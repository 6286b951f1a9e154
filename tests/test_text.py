"""Text-analysis operator semantics."""

from __future__ import annotations

import pytest

from stockpulse_batch_realtime_etl_spark.operators import text


def doc(i, t, lang="en"):
    return (i, t, lang, "s", len(t))


@pytest.fixture(scope="module")
def docs(make_docs):
    return make_docs(
        [
            doc(1, "the cat sat on the mat"),
            doc(2, "der hund ist nicht der beste"),
            doc(3, "numbers 123 and 456 here"),
            doc(4, "zzz qqq xxx"),  # no keywords in any language
        ]
    )


def test_text_stats_token_counts(docs):
    s = {r.doc_id: r for r in text.text_stats(docs).collect()}
    assert s[1].token_count == 6
    assert s[1].distinct_tokens == 5            # 'the' twice
    assert s[1].char_len == len("the cat sat on the mat")
    assert s[1].stopword_ratio == round(2 / 6, 4)
    assert s[3].digit_ratio == round(6 / len("numbers 123 and 456 here"), 4)
    assert s[4].stopword_ratio == 0.0


def test_quality_score_bounds(docs):
    for r in text.quality_score(docs).collect():
        assert 0.0 <= r.quality <= 1.0
    scores = {r.doc_id: r.quality for r in text.quality_score(docs).collect()}
    assert scores[1] > scores[4]                # stopword-bearing beats gibberish


def test_token_counts_frequency_order(docs):
    out = text.token_counts(docs).collect()
    assert out[0].token in {"the", "der"} and out[0].freq == 2
    freqs = [r.freq for r in out]
    assert freqs == sorted(freqs, reverse=True)


def test_language_id_votes(docs):
    out = {r.doc_id: r for r in text.language_id(docs).collect()}
    assert out[1].pred_lang == "en"
    assert out[2].pred_lang == "de"
    assert out[4].pred_lang == "und" and out[4].lang_hits == 0


def test_language_id_hit_counts(docs):
    out = {r.doc_id: r for r in text.language_id(docs).collect()}
    # doc1 tokens: the, cat, sat, on, the, mat → 'the'×2 are en keywords
    assert out[1].lang_hits == 2
    # doc2: der×2, ist, nicht are de keywords → 4 hits
    assert out[2].lang_hits == 4


def test_language_id_lang_limb_guard_raises(docs, monkeypatch):
    """More than 64 languages must raise loudly at plan-build time: the
    packed vote gives the lang index a 6-bit limb, and an overflowing
    index would bleed into the hits limb and silently corrupt the
    argmax (a bare assert is stripped under -O)."""
    monkeypatch.setattr(
        text,
        "LANG_KEYWORDS",
        {f"l{i:02d}": ["the"] for i in range(64)},
    )
    with pytest.raises(ValueError, match="6-bit"):
        text.language_id(docs)


def test_lang_vocab_distinct_counts(make_docs):
    d = make_docs(
        [
            (1, "the cat the dog", "en", "s", 1),
            (2, "the bird", "en", "s", 1),
            (3, "el gato", "es", "s", 1),
        ]
    )
    from stockpulse_batch_realtime_etl_spark.operators.text import lang_vocab

    rows = {r.lang: r for r in lang_vocab(d).collect()}
    en = rows["en"]
    assert en.doc_count == 2
    assert en.token_count == 6            # occurrences, with repeats
    assert en.vocab_size == 4             # {the, cat, dog, bird}
    assert rows["es"].vocab_size == 2


def test_lang_vocab_approx_matches_exact_at_small_cardinality(spark):
    from pyspark.sql import functions as F

    from stockpulse_batch_realtime_etl_spark.operators.text import lang_vocab
    from stockpulse_batch_realtime_etl_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    exact = {r.lang: r.vocab_size for r in lang_vocab(docs).collect()}
    approx = {
        r.lang: r.approx
        for r in (
            docs.select("lang", F.explode(F.split(F.trim("text"), "\\s+")).alias("t"))
            .filter(F.col("t") != "")
            .groupBy("lang")
            .agg(F.approx_count_distinct("t", 0.02).alias("approx"))
            .collect()
        )
    }
    for lang, v in exact.items():
        assert abs(approx[lang] - v) / v < 0.1  # HLL within tolerance


def test_bpe_token_counts_splits_punct_and_digits(make_docs):
    from stockpulse_batch_realtime_etl_spark.operators.text import bpe_token_counts

    d = make_docs([(1, "don't stop 42 times!", "en", "s", 1)])
    toks = {r.token: r.freq for r in bpe_token_counts(d).collect()}
    # letter runs, digit runs, punctuation runs — leading space retained
    assert toks == {
        "don": 1,
        "'": 1,
        "t": 1,
        " stop": 1,
        " 42": 1,
        " times": 1,
        "!": 1,
    }


def test_dataset_splits_deterministic_and_proportional(spark, make_docs):
    from stockpulse_batch_realtime_etl_spark.operators.text import dataset_splits

    docs = make_docs([(i, f"text {i}", "en", "t", 0) for i in range(2000)])
    a = {r.doc_id: r.split for r in dataset_splits(docs).collect()}
    # repartitioning must not move documents between splits (vs rand())
    b = {
        r.doc_id: r.split
        for r in dataset_splits(docs.repartition(7)).collect()
    }
    assert a == b
    from collections import Counter

    c = Counter(a.values())
    assert 0.85 < c["train"] / 2000 < 0.94
    assert c["val"] > 0 and c["test"] > 0


def test_tfidf_top_terms_closed_form(make_docs):
    import math

    from stockpulse_batch_realtime_etl_spark.operators.text import tfidf_top_terms

    docs = make_docs(
        [
            (1, "apple banana apple", "en", "web", 18),
            (2, "banana cherry", "en", "web", 13),
            (3, "cherry cherry cherry", "en", "web", 20),
        ]
    )
    rows = {(r.doc_id, r.token): r for r in tfidf_top_terms(docs, 2).collect()}
    # apple: tf=2 in doc1, df=1, N=3 → 2*ln(3)
    assert rows[(1, "apple")].tfidf == round(2 * math.log(3.0), 6)
    assert rows[(1, "apple")].rank == 1
    # banana in doc1: tf=1, df=2 → ln(1.5)
    assert rows[(1, "banana")].tfidf == round(math.log(1.5), 6)
    # doc3: single distinct term, so only 1 row despite k=2
    assert [k for k in rows if k[0] == 3] == [(3, "cherry")]
    assert rows[(3, "cherry")].tf == 3


def test_tfidf_top_terms_no_catalog_growth(docs):
    """tfidf_top_terms registers nothing in the catalog (N is a
    ``DataFrame.scalar()`` subquery, as in ``serving._window_filter``): a
    long-lived session calling it repeatedly must not accumulate temp
    views, and every returned plan must execute."""
    spark = docs.sparkSession
    before = {t.name for t in spark.catalog.listTables()}
    dfs = [text.tfidf_top_terms(docs) for _ in range(20)]
    after = {t.name for t in spark.catalog.listTables()}
    assert after == before  # zero growth, not merely bounded
    assert dfs[0].count() > 0 and dfs[-1].count() > 0


def test_bigram_counts(make_docs):
    from stockpulse_batch_realtime_etl_spark.operators.text import bigram_counts

    docs = make_docs(
        [
            (1, "The  quick fox", "en", "web", 14),  # double space collapses
            (2, "the quick fox", "en", "web", 13),
            (3, "single", "en", "web", 6),           # no bigrams
            (4, "", "en", "web", 0),                  # no bigrams
        ]
    )
    got = {r.bigram: r.freq for r in bigram_counts(docs).collect()}
    assert got == {"the quick": 2, "quick fox": 2}


def _kr_hash(g: str, base=257, mod=1_000_003) -> int:
    h = 0
    for c in g:
        h = (h * base + ord(c)) % mod
    return h


def test_kgram_fingerprints_match_reference_hash(make_docs):
    t = "the quick brown fox jumps over the lazy dog"
    d = make_docs([doc(1, t), doc(2, "tiny")])  # doc 2: shorter than k
    k, p = 8, 8
    got = {
        (r.doc_id, r.pos): r.fp
        for r in text.kgram_fingerprints(d, k=k, p=p).collect()
    }
    want = {
        (1, i + 1): _kr_hash(t[i : i + k])
        for i in range(len(t) - k + 1)
        if _kr_hash(t[i : i + k]) % p == 0
    }
    assert got == want and len(want) > 0
    assert not any(doc_id == 2 for doc_id, _ in got)


def test_kgram_fingerprints_normalizes_case_and_whitespace(make_docs):
    a = "Shared   Passage Of Text here"
    b = "shared passage of text here"
    d = make_docs([doc(1, a), doc(2, b)])
    by_doc: dict[int, set[int]] = {1: set(), 2: set()}
    for r in text.kgram_fingerprints(d, k=8, p=2).collect():
        by_doc[r.doc_id].add(r.fp)
    assert by_doc[1] == by_doc[2] != set()


def test_fingerprint_match_pairs_finds_moved_passage(make_docs):
    shared = "an identical long passage that appears verbatim in both docs"
    d = make_docs(
        [
            doc(1, "intro text before " + shared),
            doc(2, shared + " followed by a completely different ending"),
            doc(3, "nothing in common with the others at all kkjj qqww"),
        ]
    )
    pairs = {
        (r.doc_a, r.doc_b): r.shared_fps
        for r in text.fingerprint_match_pairs(d, k=8, p=2).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] > 0
    assert all(3 not in pair for pair in pairs)


# --- contamination / sampling / LM scoring ----------------------------------

def _py_split(doc_id, train_pct=90, val_pct=5):
    import hashlib

    b = hashlib.md5(str(doc_id).encode()).hexdigest()[:2]
    if b < f"{(256 * train_pct) // 100:02x}":
        return "train"
    if b < f"{(256 * (train_pct + val_pct)) // 100:02x}":
        return "val"
    return "test"


def test_contamination_overlap_matches_python_oracle(make_docs):
    import re

    # enough docs that the md5 split yields non-empty train AND test sets;
    # doc i shares its 3-gram with doc i+100 (same text)
    rows = [
        doc(i, f"alpha beta g{i % 7} delta epsilon") for i in range(200)
    ]
    docs = make_docs(rows)
    out = {
        (r.doc_id): r.overlap_grams
        for r in text.contamination_overlap(docs, n=3).collect()
    }

    def grams(t):
        toks = re.sub(r"\s+", " ", t.lower().strip()).split(" ")
        return {
            " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
        }

    split = {i: _py_split(i) for i, *_ in rows}
    eval_grams = set().union(
        *(grams(r[1]) for r in rows if split[r[0]] == "test"), set()
    )
    expected = {
        r[0]: len(grams(r[1]) & eval_grams)
        for r in rows
        if split[r[0]] == "train" and grams(r[1]) & eval_grams
    }
    assert sum(1 for i in split.values() if i == "test") > 0
    assert out == expected


def test_stratified_sample_deterministic_under_repartition(make_docs):
    rows = [doc(i, f"t {i}", lang="en" if i % 2 else "de") for i in range(60)]
    docs = make_docs(rows)
    a = sorted(
        (r.doc_id, r.lang, r.sample_rank)
        for r in text.stratified_sample(docs, 5).collect()
    )
    b = sorted(
        (r.doc_id, r.lang, r.sample_rank)
        for r in text.stratified_sample(docs.repartition(7), 5).collect()
    )
    assert a == b
    per_stratum = {}
    for _, lang, rank in a:
        per_stratum.setdefault(lang, []).append(rank)
    assert all(sorted(v) == [1, 2, 3, 4, 5] for v in per_stratum.values())


def test_bigram_lm_scores_hand_computed(make_docs):
    import math

    # corpus bigrams: 'a b' ×2, 'a c' ×1, 'b a' ×1  →  c1: a→3, b→1
    docs = make_docs([doc(1, "a b a c"), doc(2, "a b")])
    out = {r.doc_id: r for r in text.bigram_lm_scores(docs).collect()}
    lp = {
        "a b": round(math.log(2 / 3), 8),
        "b a": round(math.log(1 / 1), 8),
        "a c": round(math.log(1 / 3), 8),
    }
    assert out[1].n_bigrams == 3
    assert out[1].avg_logprob == round(
        (lp["a b"] + lp["b a"] + lp["a c"]) / 3, 6
    )
    assert out[2].n_bigrams == 1
    assert out[2].avg_logprob == round(lp["a b"] / 1, 6)


def test_mixture_sample_feasible_composition(make_docs):
    # A has 10 docs, B has 4; weights 0.6/0.4 → T = min(10/.6, 4/.4) = 10
    # → k_A = 6, k_B = 4; source C excluded (no weight)
    rows = [doc(i, f"t {i}") for i in range(10)]
    rows += [(100 + i, f"u {i}", "en", "B", 3) for i in range(4)]
    rows += [(200 + i, f"v {i}", "en", "C", 3) for i in range(5)]
    rows = [(i, t, lang, src if src != "s" else "A", n)
            for (i, t, lang, src, n) in rows]
    docs = make_docs(rows)
    out = text.mixture_sample(docs, {"A": 0.6, "B": 0.4}).collect()
    per = {}
    for r in out:
        per.setdefault(r.source, set()).add(r.sample_rank)
    assert per == {"A": {1, 2, 3, 4, 5, 6}, "B": {1, 2, 3, 4}}
    again = text.mixture_sample(docs.repartition(5), {"A": 0.6, "B": 0.4})
    assert sorted(r.doc_id for r in out) == sorted(
        r.doc_id for r in again.collect()
    )


def test_repetition_stats_hand_computed(make_docs):
    docs = make_docs(
        [
            doc(1, "a b a b a"),   # bigrams: ab, ba, ab, ba → all dup; top 2/4
            doc(2, "x y z"),       # bigrams xy, yz → no dups
            doc(3, "solo"),        # no bigrams → NULL fracs
        ]
    )
    out = {r.doc_id: r for r in text.repetition_stats(docs).collect()}
    assert out[1].dup_token_ratio == round(1 - 2 / 5, 6)
    assert out[1].top_bigram_frac == 0.5
    assert out[1].dup_bigram_frac == 1.0
    assert out[2].dup_token_ratio == 0.0
    assert out[2].top_bigram_frac == 0.5
    assert out[2].dup_bigram_frac == 0.0
    assert out[3].top_bigram_frac is None
    assert out[3].dup_bigram_frac is None


def test_adjacent_ngrams_hand_built(spark):
    df = spark.createDataFrame([(1, "a  b c d"), (2, "a"), (3, "")], "doc_id long, text string")
    out = {
        r.doc_id: r
        for r in df.select(
            "doc_id",
            text.adjacent_ngrams(text._norm_token_arr(), 2).alias("bi"),
            text.adjacent_ngrams(text._norm_token_arr(), 3).alias("tri"),
        ).collect()
    }
    assert out[1].bi == ["a b", "b c", "c d"]
    assert out[1].tri == ["a b c", "b c d"]
    assert out[2].bi == [] and out[2].tri == []
    assert out[3].bi == []  # empty text -> single empty token, no pairs


def _md5(v):
    import hashlib

    return hashlib.md5(str(v).encode()).hexdigest()


def test_pack_sequences_layout_single_shard(make_docs):
    # n_shards=1 -> one global concat stream in md5(doc_id) order; ctx=5
    texts = {1: "a b c", 2: "d e f g", 3: "h i", 4: "j k l m n o"}
    docs = make_docs([doc(i, t) for i, t in texts.items()])
    out = {
        r.doc_id: r
        for r in text.pack_sequences(docs, ctx_tokens=5, n_shards=1).collect()
    }
    order = sorted(texts, key=lambda i: (_md5(i), i))
    cum = 0
    for i in order:
        n = len(texts[i].split())
        start, cum = cum, cum + n
        r = out[i]
        assert r.shard == 0
        assert r.n_tokens == n
        assert r.seq_index == start // 5
        assert r.offset == start % 5
        assert r.spans_boundary == ((cum - 1) // 5 > start // 5)


def test_pack_sequences_deterministic_under_repartition(make_docs):
    docs = make_docs([doc(i, "w " * (i % 7 + 1)) for i in range(40)])
    a = sorted(map(tuple, text.pack_sequences(docs, 8, 4).collect()))
    b = sorted(
        map(tuple, text.pack_sequences(docs.repartition(7), 8, 4).collect())
    )
    assert a == b
    # every shard's sequence stream starts at offset 0 of seq 0
    firsts = {}
    for row in a:
        d = dict(zip(["doc_id", "source", "shard", "n_tokens", "seq", "off", "spans"], row))
        key = d["shard"]
        cur = (d["seq"], d["off"])
        firsts[key] = min(firsts.get(key, cur), cur)
    assert all(v == (0, 0) for v in firsts.values())


def test_temperature_mixture_quota(make_docs):
    # A: 16 docs, B: 4 docs; alpha=.5 -> s = (4, 2), total=6 -> k = (4, 2)
    rows = [(i, f"t {i}", "en", "A", 3) for i in range(16)]
    rows += [(100 + i, f"u {i}", "en", "B", 3) for i in range(4)]
    docs = make_docs(rows)
    out = text.temperature_mixture(docs, total=6, alpha=0.5).collect()
    per = {}
    for r in out:
        per.setdefault(r.source, set()).add(r.sample_rank)
    assert per == {"A": {1, 2, 3, 4}, "B": {1, 2}}
    again = text.temperature_mixture(docs.repartition(5), total=6, alpha=0.5)
    assert sorted(r.doc_id for r in out) == sorted(
        r.doc_id for r in again.collect()
    )


def test_curation_funnel_cumulative_counts(make_docs):
    # doc 1+2 identical (dedup keeps 1); doc 3 unique but repetitive
    good = "the cat and the dog are on a mat with food and water here now"
    docs = make_docs(
        [
            doc(1, good),
            doc(2, good),                      # exact dup of 1 -> dropped
            doc(3, "spam " * 20),              # dup_token_ratio ~0.95 -> dropped
            doc(4, good + " extra tokens to stay distinct"),
        ]
    )
    out = {r.stage: r for r in text.curation_funnel(
        docs, quality_min=0.0, dup_token_max=0.6, contamination_min_grams=10**9
    ).collect()}
    assert [out[s].stage_idx for s in
            ("raw", "exact_dedup", "quality", "repetition", "decontamination")
            ] == [0, 1, 2, 3, 4]
    assert out["raw"].n_docs == 4
    assert out["exact_dedup"].n_docs == 3      # doc 2 collapsed into 1
    assert out["quality"].n_docs == 3          # threshold 0 keeps all
    assert out["repetition"].n_docs == 2       # doc 3 dropped
    assert out["decontamination"].n_docs == 2  # threshold huge -> none dropped
    # counts are monotone non-increasing by construction
    ns = [out[s].n_docs for s in
          ("raw", "exact_dedup", "quality", "repetition", "decontamination")]
    assert ns == sorted(ns, reverse=True)


def test_winnowed_fingerprints_gap_guarantee(make_docs):
    # Two docs sharing a long verbatim passage MUST share a fingerprint
    # (guarantee holds for any shared run >= k + w - 1 = 15 chars).
    shared = "identical passage of text appearing in both documents"
    docs = make_docs(
        [
            doc(1, "prefix one " + shared + " tail a"),
            doc(2, "completely different opening words " + shared),
            doc(3, "nothing in common with the others at all"),
        ]
    )
    fps = text.winnowed_fingerprints(docs, k=8, w=8).collect()
    per = {}
    for r in fps:
        per.setdefault(r.doc_id, set()).add(r.fp)
    assert per[1] & per[2], "shared passage produced no shared fingerprint"
    # every window of w=8 gram positions is covered by >= 1 selection
    import hashlib  # noqa: F401  (parity of density, not exact positions)
    assert len(per[1]) >= (len("prefix one " + shared + " tail a") - 8 + 1) // 8
    # deterministic under repartition
    again = text.winnowed_fingerprints(docs.repartition(5), k=8, w=8).collect()
    assert sorted(map(tuple, fps)) == sorted(map(tuple, again))


def test_winnowed_short_doc_single_window(make_docs):
    # fewer than w grams -> the whole doc is one window -> exactly one fp
    docs = make_docs([doc(1, "abcdefghij")])  # 10 chars -> 3 grams < w=8
    fps = text.winnowed_fingerprints(docs, k=8, w=8).collect()
    assert len(fps) == 1


def test_source_token_stats_hand_computed(make_docs):
    rows = [
        (1, "a a a b", "en", "X", 7),
        (2, "a b c", "en", "X", 5),
        (3, "z z", "en", "Y", 3),
    ]
    docs = make_docs(rows)
    out = {r.source: r for r in text.source_token_stats(docs).collect()}
    x = out["X"]
    assert (x.doc_count, x.token_count, x.vocab_size) == (2, 7, 3)
    assert x.top_token == "a" and x.top_token_share == round(4 / 7, 6)
    assert x.type_token_ratio == round(3 / 7, 6)
    y = out["Y"]
    assert (y.doc_count, y.token_count, y.vocab_size) == (1, 2, 1)
    assert y.top_token == "z" and y.top_token_share == 1.0


# --- segment-level (line) dedup ---------------------------------------------

class TestSegmentDedup:
    def _docs(self, make_docs):
        boiler = "all rights reserved contact us for terms"  # 7 tokens
        return make_docs(
            [
                (1, "alpha beta gamma delta " + boiler, "en", "s", 0),
                (2, "unique words entirely here " + boiler, "en", "s", 0),
                (3, "another original document body text", "en", "s", 0),
            ]
        )

    def test_doc_segments_partition_tokens(self, make_docs):
        from stockpulse_batch_realtime_etl_spark.operators import text as t

        d = make_docs([(1, "a b c d e f g", "en", "s", 0)])
        segs = sorted(
            (r.seg_idx, r.segment) for r in t.doc_segments(d, 3).collect()
        )
        assert segs == [(0, "a b c"), (1, "d e f"), (2, "g")]  # trailing partial kept

    def test_boilerplate_detection(self, make_docs):
        from stockpulse_batch_realtime_etl_spark.operators import text as t

        # seg_len=4: docs 1 and 2 share their trailing segments only if the
        # boilerplate aligns on the same 4-token boundaries — both prefixes
        # are 4 tokens, so the shared suffix segments line up exactly.
        bp = t.boilerplate_segments(self._docs(make_docs), 4, 2).collect()
        segs = {r.segment for r in bp}
        assert "all rights reserved contact" in segs
        assert all(r.n_docs == 2 for r in bp)

    def test_segment_dedup_stats_fraction_and_clean_text(self, make_docs):
        import hashlib

        from stockpulse_batch_realtime_etl_spark.operators import text as t

        rows = {
            r.doc_id: r
            for r in t.segment_dedup_stats(self._docs(make_docs), 4, 2).collect()
        }
        # doc 3 has no boilerplate: fraction 0, clean text = full text
        assert rows[3].n_boilerplate == 0
        assert rows[3].clean_md5 == hashlib.md5(
            b"another original document body text"
        ).hexdigest()
        # docs 1-2: trailing two segments (7 boilerplate tokens → segs 1,2) flagged
        assert rows[1].n_segments == 3 and rows[1].n_boilerplate == 2
        assert rows[1].boilerplate_frac == round(2 / 3, 4)
        assert rows[1].clean_md5 == hashlib.md5(b"alpha beta gamma delta").hexdigest()


# --- RAG chunking + KL drift -------------------------------------------------

def test_chunked_windows_overlap_and_tail(make_docs):
    from stockpulse_batch_realtime_etl_spark.operators import text as t
    import hashlib

    d = make_docs([(1, "a b c d e f g h i j", "en", "s", 0)])  # 10 tokens
    rows = sorted(
        (r.chunk_idx, r.n_chunk_tokens, r.chunk_md5)
        for r in t.chunked_windows(d, width=4, stride=2).collect()
    )
    # starts 0,2,4,6,8 → chunks of 4,4,4,4,2 tokens
    assert [(i, n) for i, n, _ in rows] == [(0, 4), (1, 4), (2, 4), (3, 4), (4, 2)]
    assert rows[0][2] == hashlib.md5(b"a b c d").hexdigest()
    assert rows[4][2] == hashlib.md5(b"i j").hexdigest()


def test_source_kl_zero_for_identical_distributions(make_docs):
    from stockpulse_batch_realtime_etl_spark.operators import text as t

    # two sources with IDENTICAL token distributions → KL = 0 for both
    d = make_docs(
        [
            (1, "x x y z", "en", "s1", 0),
            (2, "x x y z", "en", "s2", 0),
        ]
    )
    rows = {r.source: r for r in t.source_kl_divergence(d).collect()}
    assert rows["s1"].kl_divergence == 0.0 and rows["s2"].kl_divergence == 0.0
    assert rows["s1"].n_tokens == 4 and rows["s1"].n_types == 3


def test_source_kl_positive_for_drift(make_docs):
    from stockpulse_batch_realtime_etl_spark.operators import text as t
    import math

    # s1 = all 'x', s2 = all 'y' → p_s1(x)=1 vs p_c(x)=0.5 → KL = ln 2
    d = make_docs(
        [
            (1, "x x x x", "en", "s1", 0),
            (2, "y y y y", "en", "s2", 0),
        ]
    )
    rows = {r.source: r.kl_divergence for r in t.source_kl_divergence(d).collect()}
    assert rows["s1"] == pytest.approx(math.log(2), abs=1e-5)
    assert rows["s2"] == pytest.approx(math.log(2), abs=1e-5)


def test_quality_length_filter_flags_extremes(make_docs):
    from stockpulse_batch_realtime_etl_spark.operators import text as t

    # 18 mid-length docs + one tiny + one huge: the percentile bands must
    # cut the two extremes, keep the bulk
    base = "the quick brown fox jumps over the lazy dog it is a fine day"
    docs = [(i, base + f" extra{i}", "en", "s", 0) for i in range(1, 19)]
    docs.append((19, "tiny", "en", "s", 0))
    docs.append((20, " ".join(f"w{j}" for j in range(400)), "en", "s", 0))
    rows = {r.doc_id: r for r in t.quality_length_filter(make_docs(docs)).collect()}
    assert not rows[19].is_kept          # below p05 length AND low quality
    assert not rows[20].is_kept          # above p95 length
    kept = sum(r.is_kept for r in rows.values())
    assert kept >= 16                    # the bulk survives


def test_bm25_ranks_higher_tf_doc_first(make_docs):
    from stockpulse_batch_realtime_etl_spark.operators.text import bm25_scores

    d = make_docs(
        [
            doc(1, "spark spark spark row row row row"),
            doc(2, "spark row row row row row row"),
            doc(3, "row row row row row row row"),
        ]
    )
    out = bm25_scores(d, ("spark",), k=10).collect()
    # only matching docs appear, ranked by tf (equal dl cancels the
    # length normalization)
    assert [r.doc_id for r in out] == [1, 2]
    assert out[0].score > out[1].score > 0
    assert all(r.n_terms == 1 for r in out)


def test_bm25_length_normalization_penalizes_long_doc(make_docs):
    from stockpulse_batch_realtime_etl_spark.operators.text import bm25_scores

    d = make_docs(
        [
            doc(1, "spark row"),
            doc(2, "spark " + "row " * 40),
        ]
    )
    out = {r.doc_id: r.score for r in bm25_scores(d, ("spark",), k=10).collect()}
    # same tf=1, but doc 2 is 20x longer -> lower score under b=0.75
    assert out[1] > out[2]


def test_ngram_novelty_flags_copied_doc(make_docs):
    from stockpulse_batch_realtime_etl_spark.operators.text import ngram_novelty

    d = make_docs(
        [
            doc(1, "the quick brown fox jumps over the lazy dog"),
            doc(2, "the quick brown fox jumps over the lazy dog"),  # full copy
            doc(3, "completely different words about spark plans here"),
            doc(4, "xx"),  # < 3 tokens -> no grams, absent from output
        ]
    )
    out = {r.doc_id: r for r in ngram_novelty(d, 3).collect()}
    assert set(out) == {1, 2, 3}
    assert out[1].dup_fraction == 0.0          # first occurrence of every gram
    assert out[2].dup_fraction == 1.0          # every gram seen in doc 1
    assert out[3].dup_fraction == 0.0
    assert out[2].n_grams == out[1].n_grams == 7


def test_hapax_stats_small_corpus_exact(make_docs):
    from stockpulse_batch_realtime_etl_spark.operators.text import hapax_stats

    d = make_docs(
        [
            (1, "a a a b c", "en", "web", 9),
            (2, "a d", "en", "web", 3),
            (3, "z z", "en", "books", 3),
        ]
    )
    out = {r["source"]: r for r in hapax_stats(d).collect()}
    web = out["web"]
    # web tokens: a×4, b, c, d → vocab 4, tokens 7, hapax 3 (b, c, d)
    assert web["vocab_size"] == 4 and web["token_count"] == 7
    assert web["hapax_count"] == 3
    assert web["head_token"] == "a" and web["head_share"] == round(4 / 7, 6)
    assert web["ttr"] == round(4 / 7, 6)
    books = out["books"]
    assert books["vocab_size"] == 1 and books["hapax_count"] == 0
    assert books["head_token"] == "z" and books["head_share"] == 1.0


def test_bpe_learn_merges_matches_sennrich_reference(make_docs):
    """Distributed BPE training equals the classic driver-side algorithm
    (Sennrich et al. 2016 learn_bpe): same pair counts, same deterministic
    tie-break, same left-greedy re-tokenize — including a multi-character
    merge built on an earlier round's output."""
    from collections import Counter

    from stockpulse_batch_realtime_etl_spark.operators.text import (
        bpe_learn_merges,
    )

    texts = [
        "low lower lowest low low",
        "new newer newest new lower",
        "wider wide widest new low",
        "the the the lowly newly",
    ]
    d = make_docs(
        [(i, t, "en", "web", len(t)) for i, t in enumerate(texts)]
    )
    got = [
        (r.step, r.left_sym, r.right_sym, r.merged, r.pair_count)
        for r in bpe_learn_merges(d, 6).collect()
    ]

    # pure-Python reference: word-freq table, n rounds of count→pick→merge
    words = Counter(
        w for t in texts for w in t.split() if w.isalpha() and w.islower()
    )
    seqs = {w: list(w) for w in words}
    want = []
    for step in range(1, 7):
        pairs: Counter = Counter()
        for w, freq in words.items():
            s = seqs[w]
            for i in range(len(s) - 1):
                pairs[(s[i], s[i + 1])] += freq
        if not pairs:
            break
        # max count, then lexicographically smallest (left, right)
        (l, r), cnt = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        want.append((step, l, r, l + r, cnt))
        for w, s in seqs.items():
            out, i = [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == l and s[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            seqs[w] = out
    assert got == want
    # the learned table must contain at least one multi-char merge (proof
    # the re-tokenize feeds back into later rounds)
    assert any(len(l) > 1 or len(r) > 1 for _, l, r, _, _ in got)


def test_bpe_merge_dry_corpus_stops_and_applies_partial_vocab(make_docs):
    """A corpus that runs out of mergeable pairs before n_merges: learning
    stops early (matching the oracle's empty-b{k} pass-through rounds) and
    the compression report applies the PARTIAL vocab."""
    from stockpulse_batch_realtime_etl_spark.operators.text import (
        bpe_compression_stats,
        bpe_learn_merges,
    )

    d = make_docs([(1, "ab ab", "en", "web", 5)])
    merges = [
        (r.step, r.left_sym, r.right_sym, r.merged, r.pair_count)
        for r in bpe_learn_merges(d, 8).collect()
    ]
    assert merges == [(1, "a", "b", "ab", 2)]
    comp = [tuple(r) for r in bpe_compression_stats(d, 8).collect()]
    assert comp == [("web", 2, 4, 2, 2.0)]


def test_bpe_checkpoint_cadence_identical_merges(make_docs):
    """checkpoint_every=2 (the 30k-merge-scale replay-bounding knob) must
    learn EXACTLY the same merge table as the fully-lazy default — the
    checkpoint only materializes, never changes the fold arithmetic."""
    from stockpulse_batch_realtime_etl_spark.operators.text import (
        bpe_learn_merges,
    )

    texts = [
        "low lower lowest low low",
        "new newer newest new lower",
        "wider wide widest new low",
        "the the the lowly newly",
    ]
    d = make_docs(
        [(i, t, "en", "web", len(t)) for i, t in enumerate(texts)]
    )
    lazy = [tuple(r) for r in bpe_learn_merges(d, 6).collect()]
    ckpt = [
        tuple(r)
        for r in bpe_learn_merges(d, 6, checkpoint_every=2).collect()
    ]
    assert lazy == ckpt and len(lazy) == 6
