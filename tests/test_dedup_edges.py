"""Adversarial edge cases for the dedup family: oracle agreement on
texts the synthetic corpora never contain (consecutive spaces), and
scale-shape guarantees (keeper-form pair fan-out, bucket caps)."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F


def _write_docs(spark, tmp_path, rows):
    path = str(tmp_path / "documents.parquet")
    spark.createDataFrame(rows, "doc_id bigint, lang string, text string") \
        .coalesce(1).write.mode("overwrite").parquet(path)
    return str(tmp_path)


def _run_both(spark, sf_dir, name):
    from lacspark.queries import ORACLE_SQL, SPARK_QUERIES

    sdf = SPARK_QUERIES[name](spark, sf_dir)
    s = sorted(tuple(r) for r in sdf.collect())
    con = duckdb.connect()
    # Spark writes a directory; duckdb needs the part-file glob
    con.execute(f"create view documents as select * from "
                f"read_parquet('{sf_dir}/documents.parquet/*.parquet')")
    cols = [c.lower() for c in sdf.columns]
    d_cur = con.execute(ORACLE_SQL[name])
    d_cols = [c[0].lower() for c in d_cur.description]
    d = sorted(tuple(r) for r in d_cur.fetchall())
    assert cols == d_cols or sorted(cols) == sorted(d_cols)
    return s, d


# 24 tokens, the second gap a double space; doc 8 repeats them with
# single spaces, so the span, clean and near-dup queries have rows
_LONG = [f"w{i:02d}" for i in range(24)]


@pytest.mark.parametrize("name", [
    "cooccurrence_pairs", "dedup_simhash", "dedup_jaccard_adjacent",
    "word_boundary_merge", "pack_sequences", "quality_lm_score",
    "quality_repetition", "dedup_substring_spans", "dedup_substring_clean",
    "dedup_minhash_lsh"])
def test_cooccurrence_agrees_on_consecutive_spaces(spark, tmp_path, name):
    """Empty tokens from double/leading/trailing spaces are no
    tokens: every query on the shared token rule (dedup.TOKENS)
    agrees with its DuckDB oracle on such texts.  Positions are
    COMPACTED, so 'alpha  beta' and 'alpha beta' co-occur the same."""
    rows = [
        (1, "en", "alpha  bravo charlie"),          # double space
        (2, "en", " alpha bravo  charlie delta "),  # lead/mid/trail
        (3, "en", "echo   foxtrot golfx  hotel victor whiskey"),
        (4, "en", "alpha bravo charlie"),            # no gaps control
        (5, "en", "   "),                            # all-empty doc
        (6, "en", ""),                               # empty text
        (7, "en", " ".join(_LONG[:2]) + "  " + " ".join(_LONG[2:])),
        (8, "en", " ".join(_LONG)),
    ]
    sf = _write_docs(spark, tmp_path, rows)
    s, d = _run_both(spark, sf, name)
    assert s == d
    if name == "cooccurrence_pairs":
        # the double space must NOT break adjacency: alpha/bravo from
        # doc 1 and doc 4 both count → n_cooccur = 2 somewhere
        m = {(t1, t2): n for t1, t2, n in s}
        assert m[("alpha", "bravo")] >= 2


def test_exact_pairs_keeper_fanout_is_linear(spark, tmp_path):
    """A k-way duplicate group emits exactly k-1 (keeper, member)
    rows — never the k(k-1)/2 all-pairs explosion.  10k copies of one
    text → 9,999 rows, keeper = min doc_id for every row."""
    k = 10_000
    docs = spark.range(k).select(
        F.col("id").alias("doc_id"), F.lit("en").alias("lang"),
        F.lit("the same boilerplate text").alias("text"))
    uniq = spark.range(5).select(
        (F.col("id") + 1_000_000).alias("doc_id"),
        F.lit("en").alias("lang"),
        F.concat(F.lit("unique "), F.col("id").cast("string"))
        .alias("text"))
    path = str(tmp_path / "documents.parquet")
    docs.unionAll(uniq).write.mode("overwrite").parquet(path)

    from lacspark.queries import SPARK_QUERIES
    out = SPARK_QUERIES["dedup_exact_pairs"](spark, str(tmp_path))
    rows = out.collect()
    assert len(rows) == k - 1
    assert all(r.d1 == 0 for r in rows)
    assert sorted(r.d2 for r in rows) == list(range(1, k))


def test_exact_pairs_matches_oracle_on_multi_groups(spark, tmp_path):
    rows = [(i, "en", f"group{i % 3}") for i in range(12)] \
        + [(100, "en", "solo")]
    sf = _write_docs(spark, tmp_path, rows)
    s, d = _run_both(spark, sf, "dedup_exact_pairs")
    assert s == d
    assert len(s) == 9  # 3 groups x (4 members - 1 keeper)


def test_simhash_projection_matches_oracle_with_empty_tokens(
        spark, tmp_path):
    rows = [
        (1, "en", "token alpha  beta token"),
        (2, "en", "gamma"),
        (3, "en", "  "),     # no tokens → no row on either side
        (4, "en", "token alpha beta token"),
    ]
    sf = _write_docs(spark, tmp_path, rows)
    s, d = _run_both(spark, sf, "dedup_simhash")
    assert s == d
    sh = {doc: h for doc, h in s}
    assert 3 not in sh
    assert sh[1] == sh[4]  # same multiset of tokens → same simhash


# Planted texts for the per-document python folds (simhash and the
# Gopher repetition gate) against their DuckDB oracles
_FOLD_ROWS = [
    # 2-grams "aaa bbbb" and "zz q" tie at 2 occurrences with
    # different lengths: the smaller gram ("aaa bbbb") is the top
    (1, "en", "zz q zz q aaa bbbb aaa bbbb"),
    (2, "en", "q q q q q q q q"),              # dup_2gram_frac > 1
    (3, "en", "hello world"),                  # exactly 2 tokens
    (4, "en", "alpha beta\n\n   \nalpha beta\n   \ngamma"),  # blank,
    #                                           space-only lines
    (5, "en", "naïve café 東京 東京 café naïve 😀 😀 東京"),
    (6, "en", "double  spaced  words and trailing  "),
    (7, "en", None),                           # NULL text
    (8, "en", "alpha beta"),                   # a tied simhash bit
    (9, "en", " ".join(f"w{i % 7}x" for i in range(60))),
    (10, "en", "The quick brown fox jumps over the lazy dog while "
               "the cat sleeps on a warm mat near the door"),
    (11, "en", "Another plain sentence that is long enough to pass "
               "the length band of the curation gate today"),
    (12, "en", "One more ordinary line of prose with no repeats in "
               "it at all so the gate keeps it in the corpus"),
]


@pytest.mark.parametrize("name", ["dedup_simhash", "quality_repetition",
                                  "corpus_curation"])
def test_document_folds_match_oracle_on_planted_texts(spark, tmp_path,
                                                      name):
    """The python folds agree with their DuckDB oracles on tied top
    grams of different lengths, a fraction above 1, exactly 2 tokens,
    blank and space-only lines, non-ASCII tokens, double and trailing
    spaces, a NULL text and a simhash bit whose vote is 0."""
    from lacspark.canonical_py import md5int

    a, b = md5int("alpha"), md5int("beta")
    assert (a ^ b) & 0xFFFF  # doc 8 has a bit with one vote each way
    sf = _write_docs(spark, tmp_path, _FOLD_ROWS)
    s, d = _run_both(spark, sf, name)
    assert s == d
    if name == "quality_repetition":
        rows = {r[0]: r for r in s}
        assert 7 not in rows and 3 in rows
        assert rows[1][1] == round(2 * len("aaa bbbb") / 27, 6)
        assert rows[2][2] > 1


def test_simhash_plan_has_no_keyed_shuffle(spark, tmp_path):
    """The simhash fingerprint is computed per document: no
    hash-partitioned Exchange may appear in the physical plan (the
    old form shuffled every token row into a 16-column groupBy)."""
    rows = [(i, "en", f"tok{i} shared words here") for i in range(8)]
    sf = _write_docs(spark, tmp_path, rows)
    from lacspark.queries import SPARK_QUERIES
    plan = SPARK_QUERIES["dedup_simhash"](spark, sf) \
        ._jdf.queryExecution().executedPlan().toString().lower()
    assert "hashpartitioning" not in plan


def test_embedding_lsh_bucket_cap_survives_degenerate_corpus(spark):
    """Adversarial all-one-bucket corpus: every vector has identical
    signs in every band, so without a cap candidate generation is
    n(n-1)/2.  With max_bucket below the corpus size the degenerate
    buckets are dropped and the query completes with zero pairs;
    uncapped, the same corpus yields the full quadratic pair set."""
    from pyspark.sql import functions as F

    from lacspark.spark.dedup import embedding_near_duplicates

    n = 300
    vecs = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.expr("transform(sequence(1, 16), "
               "j -> cast(1.0 + 0.001 * (id % 7) as float))")
        .alias("embedding"))
    from lacspark.spark.dedup import cap_audit, cap_audit_rows

    with cap_audit() as scope:
        capped = embedding_near_duplicates(
            vecs, "vec_id", "embedding", threshold=0.0,
            nbits=8, nbands=2, max_bucket=100)
    assert capped.count() == 0
    audit = {r["op"]: r for r in cap_audit_rows(scope)}
    a = audit["embedding_near_duplicates"]
    # every vector has identical signs → one bucket per band, both
    # over the cap: 2 capped units, 2 bands × 300 rows dropped
    assert a["n_units_capped"] == 2 and a["n_rows_dropped"] == 2 * n
    uncapped = embedding_near_duplicates(
        vecs, "vec_id", "embedding", threshold=0.0,
        nbits=8, nbands=2, max_bucket=None)
    assert uncapped.count() == n * (n - 1) // 2


def test_ann_lsh_topk_bucket_cap(spark):
    """Same guard on the ANN path: a degenerate corpus bucket larger
    than max_bucket is dropped from the equi-join (graceful recall
    loss, no quadratic blowup)."""
    from pyspark.sql import functions as F

    from lacspark.spark.similarity import lsh_bucketed_topk

    n = 200
    vecs = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.expr("transform(sequence(1, 16), "
               "j -> cast(1.0 + 0.001 * (id % 5) as float))")
        .alias("embedding"))
    q = vecs.filter(F.col("vec_id") < 3)
    from lacspark.spark.dedup import cap_audit, cap_audit_rows

    with cap_audit() as scope:
        capped = lsh_bucketed_topk(q, vecs, "vec_id", "embedding",
                                   k=5, nbits=8, probe_radius=0,
                                   nbands=1, max_bucket=50)
    assert capped.count() == 0
    a = {r["op"]: r for r in cap_audit_rows(scope)}["lsh_bucketed_topk"]
    assert a["n_units_capped"] == 1 and a["n_rows_dropped"] == n
    uncapped = lsh_bucketed_topk(q, vecs, "vec_id", "embedding",
                                 k=5, nbits=8, probe_radius=0, nbands=1,
                                 max_bucket=None)
    assert uncapped.count() == 15  # 3 queries x top-5


def test_multiband_catches_first_band_sign_flip(spark):
    """A near-identical pair whose only sign difference falls in
    band 0's dims is invisible to a single 8-bit code but caught by
    the second band — the recall mechanism multi-banding exists for."""
    from pyspark.sql import functions as F

    from lacspark.spark.dedup import embedding_near_duplicates

    base = [0.9] * 16
    flipped = list(base)
    flipped[0] = -0.001          # band-0 sign flip, tiny cosine cost
    far = [(-1.0) ** j * 2.0 for j in range(16)]
    vecs = spark.createDataFrame(
        [(0, base), (1, flipped), (2, far)],
        "vec_id bigint, embedding array<double>")
    one_band = embedding_near_duplicates(
        vecs, "vec_id", "embedding", threshold=0.9,
        nbits=8, nbands=1, max_bucket=None)
    two_band = embedding_near_duplicates(
        vecs, "vec_id", "embedding", threshold=0.9,
        nbits=8, nbands=2, max_bucket=None)
    assert one_band.count() == 0
    assert [(r.d1, r.d2) for r in two_band.collect()] == [(0, 1)]


def test_rolling_fingerprint_agrees_on_bmp_unicode(spark, tmp_path):
    """Both engines hash Unicode code points: the Spark kernel decodes
    each text to UTF-32 and the DuckDB oracle's ascii() returns the
    code point.  Pin the agreement on mixed CJK/ASCII text;
    supplementary-plane characters are covered by
    test_rolling_fingerprint_agrees_on_random_code_points."""
    rows = [
        (1, "zh", "百度是一家高科技公司总部在北京"),
        (2, "mix", "alpha 百度 beta 公司 gamma delta!"),
        (3, "en", "plain ascii text with enough characters"),
    ]
    sf = _write_docs(spark, tmp_path, rows)
    s, d = _run_both(spark, sf, "doc_rolling_fingerprint")
    assert s == d
    assert len(s) == 3


def test_rolling_fingerprint_short_documents(spark, tmp_path):
    """Documents of 8-10 code points have 1-3 grams, fewer than one
    4-gram window: no minima, so n_winnow 0 and a NULL digest, as in
    the oracle.  Shorter, empty and NULL texts emit no row."""
    alphabet = "abcdefghijk"
    rows = [(n, "en", alphabet[:n]) for n in (7, 8, 9, 10, 11)]
    rows += [(20, "en", None), (21, "en", "")]
    sf = _write_docs(spark, tmp_path, rows)
    s, d = _run_both(spark, sf, "doc_rolling_fingerprint")
    assert s == d
    assert [r[0] for r in s] == [8, 9, 10, 11]
    assert [r[1:3] for r in s] == [(1, 0), (2, 0), (3, 0), (4, 1)]
    assert [r[3] is None for r in s] == [True, True, True, False]


def test_rolling_fingerprint_agrees_on_random_code_points(spark, tmp_path):
    """Seeded random texts of 0-60 code points drawn from ASCII, CJK
    and the supplementary plane (emoji, 4 UTF-8 bytes each) agree
    with the oracle row for row, an all-emoji document included."""
    import random

    rng = random.Random(20031)
    pools = [[chr(c) for c in range(0x20, 0x7f)],
             [chr(c) for c in range(0x4e00, 0x4e00 + 200)],
             [chr(c) for c in range(0x1f600, 0x1f650)]]
    rows = [(i, "xx", "".join(rng.choice(rng.choice(pools))
                              for _ in range(rng.randint(0, 60))))
            for i in range(200)]
    rows.append((200, "xx", "".join(rng.choice(pools[2])
                                    for _ in range(12))))
    sf = _write_docs(spark, tmp_path, rows)
    s, d = _run_both(spark, sf, "doc_rolling_fingerprint")
    assert s == d
    assert len(s) == sum(len(t) >= 8 for _, _, t in rows)
    assert 200 in {r[0] for r in s}


def test_rolling_fingerprint_winnow_invariance(spark, tmp_path):
    """Winnowing property: a document sharing a long run of text with
    another shares winnowed minima — the digest of disjoint texts
    differs, identical texts match."""
    shared = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(1, "en", shared), (2, "en", shared),
            (3, "en", "completely different content with other words")]
    sf = _write_docs(spark, tmp_path, rows)
    from lacspark.queries import SPARK_QUERIES
    out = {r.doc_id: (r.n_grams, r.n_winnow, r.winnow_digest)
           for r in SPARK_QUERIES["doc_rolling_fingerprint"](
               spark, sf).collect()}
    assert out[1] == out[2]
    assert out[1] != out[3]


def test_exact_pairs_consistent_with_groups(spark):
    """Cross-query invariant on real data: the keeper-form pair list
    and the group list describe the same partition — every group of
    size k contributes exactly k-1 member rows whose keeper is the
    group's min id."""
    from lacspark.queries import SPARK_QUERIES

    sf = "/root/testdata/sf0.001"
    pairs = SPARK_QUERIES["dedup_exact_pairs"](spark, sf).collect()
    groups = SPARK_QUERIES["dedup_exact_groups"](spark, sf).collect()
    want = {}
    for g in groups:
        ids = sorted(g.ids)
        for m in ids[1:]:
            want[m] = ids[0]
    got = {r.d2: r.d1 for r in pairs}
    assert got == want


def test_near_components_cover_keep_best_drops(spark):
    """Every document the one-hop keep-best pass drops has at least
    one verified neighbor, so it must belong to a near-dup cluster;
    its keeper shares that cluster (keep-best links are one hop of
    the component)."""
    from lacspark.queries import SPARK_QUERIES

    sf = "/root/testdata/sf0.001"
    comp = {r.doc_id: r.cluster_id for r in
            SPARK_QUERIES["dedup_near_components"](spark, sf).collect()}
    kb = SPARK_QUERIES["dedup_near_keep_best"](spark, sf).collect()
    assert len(kb) > 0
    for r in kb:
        assert r.dropped_id in comp
        assert comp[r.dropped_id] == comp[r.kept_id]


def test_substring_spans_finds_planted_span(spark, tmp_path):
    """Plant a known 20-token paragraph inside two otherwise-distinct
    documents: the span detector must report exactly that maximal
    span, at the right positions, and nothing between the unrelated
    pair."""
    shared = " ".join(f"boiler{i}" for i in range(20))
    d0 = "intro zero alpha " + shared + " tail zero omega"
    d1 = ("completely different opening words here now " + shared
          + " closing text")
    d2 = " ".join(f"unrelated{i}" for i in range(30))
    sf = _write_docs(spark, tmp_path, [
        (0, "en", d0), (1, "en", d1), (2, "en", d2)])
    from lacspark.queries import SPARK_QUERIES
    rows = {(r.d1, r.d2): r for r in
            SPARK_QUERIES["dedup_substring_spans"](spark, sf).collect()}
    assert set(rows) == {(0, 1)}
    span = rows[(0, 1)]
    # d0: 3 lead tokens before the paragraph; d1: 6
    assert (span.start1, span.start2, span.span_len) == (3, 6, 20)


def test_substring_spans_max_df_drops_boilerplate_gram(spark, tmp_path):
    """A gram occurring corpus-wide beyond max_df must be excluded
    from candidate generation (the quadratic-join guard), and the
    oracle must agree because it mirrors the cap."""
    boiler = " ".join(f"b{i}" for i in range(12))
    rows = [(i, "en", f"doc{i} unique{i} " + boiler) for i in range(8)]
    sf = _write_docs(spark, tmp_path, rows)
    from lacspark.spark.dedup import substring_duplicate_spans
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    # df cap below the 8 copies -> no spans at all
    none = substring_duplicate_spans(docs, "doc_id", "text",
                                     k=8, min_span=10, max_df=5)
    assert none.count() == 0
    # cap above -> all 28 pairs share the 12-token boilerplate span
    allp = substring_duplicate_spans(docs, "doc_id", "text",
                                     k=8, min_span=10, max_df=100)
    got = {(r.d1, r.d2, r.span_len) for r in allp.collect()}
    assert got == {(i, j, 12) for i in range(8) for j in range(i + 1, 8)}


def test_substring_spans_oracle_agreement_adversarial(spark, tmp_path):
    """Spark and DuckDB agree on a corpus with double spaces,
    within-doc repeats (same gram twice in one doc -> two diagonals),
    and overlapping spans."""
    rep = " ".join(f"r{i}" for i in range(10))
    rows = [
        (0, "en", rep + "  mid gap  " + rep),
        (1, "en", "x0 x1 " + rep + " x2 x3 x4 " + rep),
        (2, "en", "lead  " + rep),
    ]
    sf = _write_docs(spark, tmp_path, rows)
    s, d = _run_both(spark, sf, "dedup_substring_spans")
    assert s == d and len(s) > 0


def _random_corpus(seed: int, n: int = 60):
    """Deterministic pseudo-random corpus with planted exact and
    near duplicates (long docs so quality gates see real text)."""
    import random

    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(12)]
    rows = []
    for i in range(n):
        toks = [rng.choice(vocab) for _ in range(rng.randint(20, 60))]
        rows.append((i, rng.choice(["en", "de"]), " ".join(toks)))
    # exact dups: copy some texts verbatim onto later ids
    for i in range(n, n + 10):
        rows.append((i, "en", rows[rng.randrange(n)][2]))
    # near dups: perturb one token
    for i in range(n + 10, n + 20):
        src = list(rows[rng.randrange(n)][2].split(" "))
        src[rng.randrange(len(src))] = "zz"
        rows.append((i, "de", " ".join(src)))
    return rows


@pytest.mark.parametrize("seed", [7, 21, 99])
def test_component_count_bounded_by_keep_best_survivors(
        spark, tmp_path, seed):
    """On any corpus: every near-dup component retains at least one
    keep-best survivor (its best member beats all its neighbors), so
    #components <= #clustered docs - #dropped docs."""
    from lacspark.queries import SPARK_QUERIES

    sf = _write_docs(spark, tmp_path, _random_corpus(seed))
    comp = SPARK_QUERIES["dedup_near_components"](spark, sf).collect()
    dropped = {r.dropped_id for r in
               SPARK_QUERIES["dedup_near_keep_best"](spark, sf).collect()}
    n_clusters = len({r.cluster_id for r in comp})
    n_clustered = len(comp)
    assert len(comp) > 0  # the planted dups must actually cluster
    assert dropped <= {r.doc_id for r in comp}
    assert n_clusters <= n_clustered - len(dropped)


@pytest.mark.parametrize("seed", [7, 21, 99])
def test_curation_survivors_disjoint_from_exact_dup_members(
        spark, tmp_path, seed):
    """corpus_curation keeps only exact-dup keepers, so its survivor
    set can never intersect the duplicate-member side (d2) of
    dedup_exact_pairs."""
    from lacspark.queries import SPARK_QUERIES

    sf = _write_docs(spark, tmp_path, _random_corpus(seed))
    cur = {r.doc_id for r in
           SPARK_QUERIES["corpus_curation"](spark, sf).collect()}
    members = {r.d2 for r in
               SPARK_QUERIES["dedup_exact_pairs"](spark, sf).collect()}
    assert len(members) > 0  # planted exact dups exist
    assert cur.isdisjoint(members)


def test_substring_clean_removes_planted_span(spark, tmp_path):
    """The apply step: the later doc of a shared-span pair loses
    exactly the span tokens; a fully-duplicated doc cleans to empty."""
    shared = " ".join(f"boiler{i}" for i in range(15))
    rows = [
        (0, "en", "keep one " + shared + " keep two"),
        (1, "en", "pre a b c " + shared + " post x"),
        (2, "en", shared),              # d2 of (0,2): fully covered
        (3, "en", " ".join(f"solo{i}" for i in range(20))),
    ]
    sf = _write_docs(spark, tmp_path, rows)
    from lacspark.queries import SPARK_QUERIES
    got = {r.doc_id: r for r in
           SPARK_QUERIES["dedup_substring_clean"](spark, sf).collect()}
    # doc 0 is the FIRST occurrence -> untouched, not in the edit list
    assert 0 not in got and 3 not in got
    assert got[1].clean_text == "pre a b c post x"
    assert got[1].n_removed == 15 and got[1].n_kept == 6
    assert got[2].clean_text == "" and got[2].n_kept == 0


def test_substring_clean_oracle_agreement(spark, tmp_path):
    """Spark projection-cut vs DuckDB relational anti-join rebuild on
    overlapping spans (two sources covering intersecting ranges)."""
    rep = " ".join(f"r{i}" for i in range(14))
    rows = [
        (0, "en", "alpha " + rep),
        (1, "en", rep + " omega"),      # d2 of (0,1), span offset 0
        (2, "en", "x y " + rep + " z " + rep),  # repeats internally
    ]
    sf = _write_docs(spark, tmp_path, rows)
    s, d = _run_both(spark, sf, "dedup_substring_clean")
    assert s == d and len(s) > 0


@pytest.mark.parametrize("seed", [3, 17])
def test_substring_spans_are_exact_and_maximal(spark, tmp_path, seed):
    """GROUND TRUTH check (the oracle shares the fingerprint/merge
    algorithm, so oracle agreement alone cannot catch an algorithmic
    bug): every reported span must be an exact token-for-token match
    between the two documents, and maximal — extending one token on
    either side must break the match or hit a document boundary.
    Capped fingerprints can only REMOVE hits, so maximality still
    holds for reported spans on this small corpus (max_df=50 > any
    gram frequency here)."""
    import random

    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(30)]
    base = [rng.choice(vocab) for _ in range(80)]
    rows = []
    for i in range(12):
        toks = [rng.choice(vocab) for _ in range(rng.randint(25, 60))]
        if i % 3 == 0:  # plant a copied window from base
            a = rng.randrange(0, 50)
            ln = rng.randint(12, 25)
            pos = rng.randrange(0, len(toks))
            toks = toks[:pos] + base[a:a + ln] + toks[pos:]
        rows.append((i, "en", " ".join(toks)))
    rows.append((100, "en", " ".join(base)))
    sf = _write_docs(spark, tmp_path, rows)
    from lacspark.queries import SPARK_QUERIES
    toks_by_id = {i: [w for w in t.split(" ") if w] for i, _l, t in rows}
    spans = SPARK_QUERIES["dedup_substring_spans"](spark, sf).collect()
    assert len(spans) > 0
    for r in spans:
        t1, t2 = toks_by_id[r.d1], toks_by_id[r.d2]
        s1 = t1[r.start1:r.start1 + r.span_len]
        s2 = t2[r.start2:r.start2 + r.span_len]
        assert s1 == s2 and len(s1) == r.span_len, r
        # maximal on the left
        if r.start1 > 0 and r.start2 > 0:
            assert t1[r.start1 - 1] != t2[r.start2 - 1], r
        # maximal on the right
        e1, e2 = r.start1 + r.span_len, r.start2 + r.span_len
        if e1 < len(t1) and e2 < len(t2):
            assert t1[e1] != t2[e2], r


def test_curation_is_subset_of_streaming_gate_passers(spark):
    """corpus_curation = streaming_curation_counts' stateless gates
    PLUS the exact-dup keeper, so per-lang curation counts can never
    exceed the streaming gate-passer counts."""
    from lacspark.queries import SPARK_QUERIES

    sf = "/root/testdata/sf0.001"
    stream = {r.lang: r.n_pass for r in
              SPARK_QUERIES["streaming_curation_counts"](spark, sf)
              .collect()}
    cur = SPARK_QUERIES["corpus_curation"](spark, sf).collect()
    per_lang: dict = {}
    for r in cur:
        per_lang[r.lang] = per_lang.get(r.lang, 0) + 1
    for lang, n in per_lang.items():
        assert n <= stream.get(lang, 0), (lang, n, stream.get(lang))


def test_pack_budgets_agree_on_doc_universe(spark):
    """Word-budget and BPE-budget packing must partition the SAME
    document set into streams (only the offsets differ), and each
    doc's subword count must be >= its word count minus nothing —
    subword pieces never merge across words, so n_subwords >=
    n_words for every doc."""
    from lacspark.queries import SPARK_QUERIES

    sf = "/root/testdata/sf0.001"
    w = {(r.doc_id, r.lang): r.n_tokens for r in
         SPARK_QUERIES["pack_sequences"](spark, sf).collect()}
    b = {(r.doc_id, r.lang): r.n_subwords for r in
         SPARK_QUERIES["pack_sequences_bpe"](spark, sf).collect()}
    assert set(w) == set(b)
    assert all(b[k] >= w[k] for k in w)


def test_minhash_cache_does_not_collide_across_corpora(spark, tmp_path):
    """Two same-schema corpora processed in one session must each get
    their own near-dup result: the fingerprint-table slot is keyed on
    input-file identity (path+size+mtime), never on a plan string
    (a canonicalized plan normalizes the path away and collided)."""
    from lacspark.spark.dedup import minhash_near_duplicates

    dup = " ".join(f"w{i % 5}" for i in range(30))
    a = _write_docs(spark, tmp_path / "a",
                    [(0, "en", dup), (1, "en", dup),
                     (2, "en", "x y z " * 10)])
    b = _write_docs(spark, tmp_path / "b",
                    [(i, "en", " ".join(f"u{i}t{j}" for j in range(30)))
                     for i in range(3)])
    ra = minhash_near_duplicates(
        spark.read.parquet(f"{a}/documents.parquet"), "doc_id", "text")
    assert [(r.d1, r.d2) for r in ra.collect()] == [(0, 1)]
    rb = minhash_near_duplicates(
        spark.read.parquet(f"{b}/documents.parquet"), "doc_id", "text")
    assert rb.count() == 0
    # and back to A: correct again (slot swapped, not poisoned)
    ra2 = minhash_near_duplicates(
        spark.read.parquet(f"{a}/documents.parquet"), "doc_id", "text")
    assert [(r.d1, r.d2) for r in ra2.collect()] == [(0, 1)]


def test_minhash_cache_not_hit_by_transformed_input(spark, tmp_path):
    """A TRANSFORMED DataFrame over the same files (docs.filter(...))
    must not return the raw scan's cached pair set: the slot key
    includes a canonicalized-plan digest alongside the file
    fingerprint (ADVICE r4 — file identity alone collided here)."""
    from lacspark.spark.dedup import minhash_near_duplicates

    dup = " ".join(f"w{i % 5}" for i in range(30))
    a = _write_docs(spark, tmp_path / "a",
                    [(0, "en", dup), (1, "en", dup), (2, "en", dup),
                     (3, "en", "x y z " * 10)])
    raw = spark.read.parquet(f"{a}/documents.parquet")
    full = minhash_near_duplicates(raw, "doc_id", "text")
    assert {(r.d1, r.d2) for r in full.collect()} == \
        {(0, 1), (0, 2), (1, 2)}
    # same files, filtered plan: doc 0 removed -> only the (1, 2) pair
    filt = minhash_near_duplicates(
        spark.read.parquet(f"{a}/documents.parquet")
        .filter("doc_id >= 1"), "doc_id", "text")
    assert {(r.d1, r.d2) for r in filt.collect()} == {(1, 2)}
    # and two raw scans of the same path DO share one cache entry
    # (fresh exprIds must not defeat the digest): same plan, same key
    from lacspark.spark.memo import input_fingerprint
    k1 = input_fingerprint(spark.read.parquet(f"{a}/documents.parquet"))
    k2 = input_fingerprint(spark.read.parquet(f"{a}/documents.parquet"))
    assert k1 == k2 and k1 is not None


def test_ratio_round_matches_exact_decimal_half_up(spark):
    """ratio_round and its DuckDB twin must equal EXACT decimal
    half-up rounding of p/q for adversarial ratios, including
    midpoints that are not representable doubles (the class where
    engines' float round() disagree)."""
    import duckdb
    from decimal import ROUND_HALF_UP, Decimal

    from lacspark.queries import _ratio_round_duck
    from lacspark.spark.dedup import ratio_round

    cases = [(1, 160), (7, 160), (3, 640), (1, 128), (9, 18),
             (1000001, 2000000), (13, 2), (0, 7), (999999, 1000000),
             (1, 3), (2, 3), (123457, 320)]
    df = spark.createDataFrame(cases, "p long, q long")
    for digits in (4, 6):
        got = {(r.p, r.q): r.r for r in
               df.select("p", "q",
                         ratio_round("p", "q", digits).alias("r"))
               .collect()}
        con = duckdb.connect()
        for p, q in cases:
            want = float((Decimal(p) / Decimal(q)).quantize(
                Decimal(10) ** -digits, rounding=ROUND_HALF_UP))
            assert got[(p, q)] == want, (p, q, digits, got[(p, q)], want)
            d = con.execute("select " +
                            _ratio_round_duck(str(p), str(q), digits)
                            ).fetchone()[0]
            assert d == want, (p, q, digits, d, "duck")
