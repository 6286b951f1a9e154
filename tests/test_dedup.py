"""Dedup operator semantics on constructed corpora."""

from __future__ import annotations

import pytest

from stockpulse_batch_realtime_etl_spark.operators import dedup


def doc(i, text, lang="en", source="s"):
    return (i, text, lang, source, len(text))


@pytest.fixture(scope="module")
def docs(make_docs):
    return make_docs(
        [
            doc(1, "the quick brown fox jumps over the lazy dog"),
            doc(2, "The  Quick   Brown fox jumps over the lazy dog"),  # ws/case dup of 1
            doc(3, "the quick brown fox jumps over the lazy cat"),     # near-dup of 1
            doc(4, "completely different content about spark engines"),
            doc(5, "the quick brown fox jumps over the lazy dog"),     # exact dup of 1
        ]
    )


def test_exact_dedup_normalizes_case_and_whitespace(docs):
    groups = {r.fingerprint: r for r in dedup.exact_dedup(docs).collect()}
    counts = sorted(r.dup_count for r in groups.values())
    assert counts == [1, 1, 3]          # {1,2,5} collapse
    big = next(r for r in groups.values() if r.dup_count == 3)
    assert big.kept_doc_id == 1          # keep-min policy


def test_shingles_full_ngrams_only(make_docs):
    d = make_docs([doc(1, "a b c d"), doc(2, "x y")])
    sh = {(r.doc_id, r.shingle) for r in dedup.shingles(d, 3).collect()}
    assert sh == {(1, "a b c"), (1, "b c d")}  # doc 2 too short → none


def test_minhash_identical_docs_identical_signatures(docs):
    sigs = {r.doc_id: r for r in dedup.minhash_signatures(docs).collect()}
    s1, s2, s4 = sigs[1], sigs[2], sigs[4]
    assert tuple(s1)[1:] == tuple(s2)[1:]     # normalized-identical docs
    assert tuple(s1)[1:] != tuple(s4)[1:]


def test_lsh_finds_duplicate_pairs(docs):
    pairs = {(r.doc_a, r.doc_b) for r in dedup.lsh_candidate_pairs(docs).collect()}
    assert (1, 2) in pairs and (1, 5) in pairs and (2, 5) in pairs
    # near-dup 3 shares most shingles with 1 → should bucket together too
    assert (1, 3) in pairs
    assert not any(4 in p for p in pairs)


def test_jaccard_exact_values(make_docs):
    d = make_docs([doc(1, "a b c d"), doc(2, "a b c e")])
    # shingles: {abc,bcd} vs {abc,bce} → J = 1/3
    r = dedup.jaccard_pairs(d, 3).collect()
    assert len(r) == 1
    assert r[0].doc_a == 1 and r[0].doc_b == 2
    assert r[0].jaccard == round(1 / 3, 6)


def test_simhash_identical_docs_same_fingerprint(docs):
    fps = {r.doc_id: r.simhash for r in dedup.simhash_fingerprints(docs).collect()}
    assert fps[1] == fps[2] == fps[5]
    assert 0 <= fps[1] < 2**16
    # near-dup differs in few bits; unrelated differs in many
    ham = lambda a, b: bin(a ^ b).count("1")  # noqa: E731
    assert ham(fps[1], fps[3]) <= ham(fps[1], fps[4]) + 2


def test_simhash_dup_groups(docs):
    groups = dedup.simhash_dup_groups(docs).collect()
    assert any(g.dup_count >= 3 for g in groups)


def test_simhash_near_dups_finds_identical_and_respects_hamming(docs):
    pairs = dedup.simhash_near_dups(docs, bits=16, max_hamming=3).collect()
    got = {(r.doc_a, r.doc_b): r.hamming for r in pairs}
    # identical docs (1,2,5 share a fingerprint) → hamming 0 pairs present
    assert got[(1, 2)] == 0 and got[(1, 5)] == 0 and got[(2, 5)] == 0
    assert all(h <= 3 for h in got.values())
    assert all(a < b for (a, b) in got)


def test_simhash_near_dups_band_recall_guarantee(make_docs):
    # Pigeonhole property: any pair within hamming ≤ 3 of each other MUST be
    # found (4 bands of 4 bits — at least one band matches exactly).  Build
    # that situation organically: two docs sharing most tokens.
    d = make_docs(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta", "en", "s", 1),
            (2, "alpha beta gamma delta epsilon zeta eta iota", "en", "s", 1),
        ]
    )
    fps = {r.doc_id: r.simhash for r in dedup.simhash_fingerprints(d, 16).collect()}
    ham = bin(fps[1] ^ fps[2]).count("1")
    found = {(r.doc_a, r.doc_b) for r in dedup.simhash_near_dups(d, 16, 3, 4).collect()}
    if ham <= 3:
        assert (1, 2) in found
    else:  # still must not FALSELY report within-threshold
        assert (1, 2) not in found


def test_jaccard_df_cap_drops_stop_grams(make_docs):
    # "a b c" appears in ALL four docs (a stop-gram); each pair also shares
    # nothing else.  With df_cap=3 the hot shingle is dropped from the join
    # side → no candidate pairs survive; without it every pair matches.
    rows = [doc(i, f"a b c x{i} y{i}") for i in range(1, 5)]
    d = make_docs(rows)
    uncapped = dedup.jaccard_pairs(d, 3).collect()
    assert len(uncapped) == 6  # all C(4,2) pairs share the hot shingle
    capped = dedup.jaccard_pairs(d, 3, df_cap=3).collect()
    assert capped == []


def test_dup_groups_resolves_transitive_chain(make_docs):
    """A~B and B~C pair via shared shingles without A~C needing to: the
    component labels all three with min doc_id; unrelated docs stay alone."""
    from stockpulse_batch_realtime_etl_spark.operators.dedup import dup_groups

    base = "the quick brown fox jumps over the lazy dog again and again"
    # doc2 overlaps doc1; doc3 overlaps doc2 (different tail than doc1)
    docs = make_docs(
        [
            (1, base + " one two three", "en", "t", 0),
            (2, base + " one two three four", "en", "t", 0),
            (3, base + " four five six seven", "en", "t", 0),
            (9, "completely unrelated text about spark execution plans", "en", "t", 0),
        ]
    )
    got = {r.doc_id: (r.group_id, r.is_canonical) for r in dup_groups(docs).collect()}
    assert got[1] == (1, True)
    assert got[2][0] == 1 and not got[2][1]
    assert got[9] == (9, True)
    # doc3 joins iff it shares a band with doc2 — either way the label is
    # the component min and the fixpoint is stable
    assert got[3][0] in (1, 3)


def _edges_df(spark, pairs):
    sym = [(a, b) for a, b in pairs] + [(b, a) for a, b in pairs]
    return spark.createDataFrame(sym, "src long, dst long")


def test_cc_kernels_agree_on_synthetic_graphs(spark):
    """min-label and large-star/small-star reach the SAME unique fixpoint on
    a chain, a star, two disjoint triangles, and a binary-tree-ish graph."""
    graphs = [
        [(i, i + 1) for i in range(1, 12)],                # deep chain
        [(1, k) for k in range(2, 9)],                     # already a star
        [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12), (10, 12)],  # 2 triangles
        [(1, 2), (1, 3), (2, 4), (2, 5), (3, 6), (3, 7), (7, 14)],
    ]
    from stockpulse_batch_realtime_etl_spark.operators.dedup import (
        _cc_min_label,
        _cc_star,
    )

    for pairs in graphs:
        e = _edges_df(spark, pairs)
        a = {(r.doc_id, r.group_id) for r in _cc_min_label(e, 30).collect()}
        b = {(r.doc_id, r.group_id) for r in _cc_star(e, 30).collect()}
        assert a == b, f"fixpoint mismatch on {pairs}: {a ^ b}"
        # exactly one label per node, label = component min
        assert len(a) == len({n for p in pairs for n in p})


def test_cc_star_beats_diameter_on_deep_chain(spark):
    """The Kiveris bound: a diameter-15 chain resolves within 5 star rounds
    (O(log n)), where min-label needs diameter-many."""
    from stockpulse_batch_realtime_etl_spark.operators.dedup import _cc_star

    chain = [(i, i + 1) for i in range(1, 16)]
    got = {(r.doc_id, r.group_id) for r in _cc_star(_edges_df(spark, chain), 5).collect()}
    assert got == {(i, 1) for i in range(1, 17)}


def test_dup_groups_methods_identical(make_docs):
    """dup_groups(method='star') ≡ dup_groups(method='min_label') on real
    LSH candidate graphs — the auto dispatch can never change results."""
    from stockpulse_batch_realtime_etl_spark.operators.dedup import dup_groups

    base = "the quick brown fox jumps over the lazy dog again and again"
    docs = make_docs(
        [
            (1, base + " one two three", "en", "t", 0),
            (2, base + " one two three four", "en", "t", 0),
            (3, base + " four five six seven", "en", "t", 0),
            (9, "completely unrelated text about spark execution plans", "en", "t", 0),
        ]
    )
    a = {tuple(r) for r in dup_groups(docs, method="min_label").collect()}
    b = {tuple(r) for r in dup_groups(docs, method="star").collect()}
    assert a == b


def test_observed_count_falls_back_when_metric_never_lands(spark, monkeypatch):
    """A metric that never arrives (its action never ran) ends the wait at
    the deadline with the explicit fallback count instead of blocking; a
    metric that did land is returned without running the fallback."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    monkeypatch.setattr(dedup, "_OBSERVATION_WAIT_S", 0.3)
    calls = []

    def counting(df):
        def fallback():
            calls.append(df)
            return df.count()

        return fallback

    lost = Observation()
    never_run = spark.range(7).observe(lost, F.count(F.lit(1)).alias("n"))
    assert not lost._jo.getRowOrEmpty().isDefined()
    assert dedup._observed(lost, "n", counting(never_run)) == 7
    assert calls == [never_run]

    landed = Observation()
    ran = spark.range(5).observe(landed, F.count(F.lit(1)).alias("n"))
    ran = ran.localCheckpoint()
    assert dedup._observed(landed, "n", counting(ran)) == 5
    assert calls == [never_run]  # fallback not run


def test_cc_kernels_exact_on_fallback_counts(spark, monkeypatch):
    """With no wait at all, every convergence count in both kernels comes
    from its explicit fallback count; the fixpoint must not change."""
    from stockpulse_batch_realtime_etl_spark.operators.dedup import (
        _cc_min_label,
        _cc_star,
    )

    monkeypatch.setattr(dedup, "_OBSERVATION_WAIT_S", 0.0)
    chain = [(i, i + 1) for i in range(1, 9)]
    triangles = [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12), (10, 12)]
    for pairs, want in [
        (chain, {(i, 1) for i in range(1, 10)}),
        (triangles, {(i, 1) for i in (1, 2, 3)} | {(i, 10) for i in (10, 11, 12)}),
    ]:
        e = _edges_df(spark, pairs)
        assert {(r.doc_id, r.group_id) for r in _cc_min_label(e, 30).collect()} == want
        assert {(r.doc_id, r.group_id) for r in _cc_star(e, 30).collect()} == want


# --- quality-aware survivor selection ----------------------------------------

def test_dedup_survivors_picks_best_quality(make_docs):
    # docs 1/2 are near-dups (one LSH group); doc 2 is longer and richer →
    # higher quality_score, so it must beat the keep-min policy.
    rich = (
        "the quick brown fox jumps over the lazy dog and it is a fine day "
        "in the green field where the animals play and the sun is warm"
    )
    d = make_docs(
        [
            doc(1, "the quick brown fox jumps over the lazy dog and it is"),
            doc(2, rich + " the quick brown fox jumps over the lazy dog and it is"),
            doc(3, "zz yy xx ww vv uu tt ss rr qq pp oo nn mm"),
        ]
    )
    from stockpulse_batch_realtime_etl_spark.operators.text import quality_score

    qual = {r.doc_id: r.quality for r in quality_score(d).collect()}
    out = {r.group_id: r for r in dedup.dedup_survivors(d).collect()}
    merged = [r for r in out.values() if r.group_size > 1]
    # docs 1/2 MUST band-collide with these shingles — a hard assert so the
    # quality-beats-keep-min property can never be skipped vacuously if the
    # LSH banding ever drifts (it would fail here, loudly).
    assert merged, "expected docs 1/2 to form one LSH dup group"
    g = merged[0]
    assert g.survivor_doc_id == 2          # higher quality wins over lower id
    assert g.survivor_quality == qual[2] > qual[1]
    # every doc accounted for exactly once across groups
    assert sum(r.group_size for r in out.values()) == 3


def test_dedup_survivors_tie_breaks_to_lowest_id(make_docs):
    # exact duplicates → identical quality → lowest doc_id survives
    same = "the quick brown fox jumps over the lazy dog again and again"
    d = make_docs([doc(7, same), doc(4, same), doc(9, same)])
    out = dedup.dedup_survivors(d).collect()
    assert len(out) == 1
    assert out[0].survivor_doc_id == 4 and out[0].group_size == 3


def test_incremental_dedup_flags(make_docs):
    same = "the quick brown fox jumps over the lazy dog again and again"
    d = make_docs(
        [
            doc(1, same),
            doc(2, "totally different base content about query planners"),
            doc(10, same),                       # exact copy of base doc 1
            doc(11, same + " extra tail words"), # near-dup of base via LSH
            doc(12, "fresh unseen writing with novel vocabulary entirely"),
        ]
    )
    out = {r.doc_id: r for r in dedup.incremental_dedup(d, 10).collect()}
    assert set(out) == {10, 11, 12}              # new side only
    assert out[10].exact_dup and not out[10].is_kept
    assert out[11].near_dup and not out[11].exact_dup and not out[11].is_kept
    assert out[12].is_kept and not out[12].exact_dup and not out[12].near_dup


def test_minhash_estimate_bounded_error_and_identical_docs(spark, docs):
    from stockpulse_batch_realtime_etl_spark.operators.dedup import (
        minhash_jaccard_estimate,
    )

    out = minhash_jaccard_estimate(docs, 12, 2, 3).collect()
    assert out, "fixture contains near-dup docs; LSH must surface candidates"
    for r in out:
        assert 0.0 <= r["est_jaccard"] <= 1.0
        assert 0.0 < r["exact_jaccard"] <= 1.0
        assert abs(r["abs_err"] - abs(r["est_jaccard"] - r["exact_jaccard"])) < 1e-9
    # identical texts must estimate AND measure J = 1 exactly: every
    # salted-md5 min is equal, every shingle shared
    ident = [r for r in out if r["exact_jaccard"] == 1.0]
    for r in ident:
        assert r["est_jaccard"] == 1.0 and r["abs_err"] == 0.0
