"""Similarity-search semantics on constructed vectors with known cosines."""

from __future__ import annotations

import math

import pytest

from stockpulse_batch_realtime_etl_spark.operators import similarity


@pytest.fixture(scope="module")
def embeddings(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0], 0),
        (1, [1.0, 0.0, 0.0, 0.0], 0),    # identical to 0 → cos 1
        (2, [1.0, 1.0, 0.0, 0.0], 0),    # cos(0,2) = 1/√2
        (3, [0.0, 1.0, 0.0, 0.0], 1),    # orthogonal to 0
        (4, [-1.0, 0.0, 0.0, 0.0], 1),   # opposite → cos -1
        (5, [1.0, 0.1, 0.0, 0.0], 0),    # very close to 0
    ]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )


def test_brute_force_topk_exact_cosines(embeddings):
    out = similarity.brute_force_topk(embeddings, [0], k=5).collect()
    by_cand = {r.cand_id: r for r in out}
    assert by_cand[1].cos_sim == 1.0
    assert by_cand[2].cos_sim == round(1 / math.sqrt(2), 6)
    assert by_cand[3].cos_sim == 0.0
    assert by_cand[4].cos_sim == -1.0
    # ranking: 1 (cos 1) > 5 (~0.995) > 2 (~0.707) > 3 (0) > 4 (-1)
    assert [r.cand_id for r in sorted(out, key=lambda r: r.rank)] == [1, 5, 2, 3, 4]


def test_brute_force_excludes_self(embeddings):
    out = similarity.brute_force_topk(embeddings, [0], k=10).collect()
    assert all(r.cand_id != 0 for r in out)


def test_lsh_bucket_restricts_candidates(embeddings):
    # nbits=2 buckets on sign of dims 1-2: vec 4 (negative dim0) is in a
    # different bucket from vec 0 → never a candidate despite |cos|=1
    out = similarity.lsh_bucketed_topk(embeddings, [0], k=10, nbits=2).collect()
    cands = {r.cand_id for r in out}
    assert 4 not in cands
    assert 1 in cands and 5 in cands


def test_near_dup_pairs_threshold(embeddings):
    pairs = similarity.embedding_near_dup_pairs(embeddings, 0.99, nbits=2).collect()
    got = {(r.vec_a, r.vec_b) for r in pairs}
    assert (0, 1) in got                     # identical vectors
    assert (0, 5) in got                     # cos ≈ 0.995
    assert all(r.cos_sim >= 0.99 for r in pairs)


def test_lsh_recall_vs_brute_force(embeddings):
    brute = {
        r.cand_id
        for r in similarity.brute_force_topk(embeddings, [0], k=3).collect()
    }
    bucketed = {
        r.cand_id
        for r in similarity.lsh_bucketed_topk(embeddings, [0], k=3, nbits=2).collect()
    }
    # LSH results are a subset of the corpus restricted to the bucket, and
    # every returned candidate must also score identically to brute force
    assert bucketed <= {1, 2, 5}
    assert len(brute) == 3


def test_ivf_assign_centroid_membership(embeddings):
    # ncells=2: centroids are vecs 0 ([1,0,0,0]) and 1 (identical to 0) —
    # every vector assigns to the argmax-cosine centroid with min-id
    # tie-break, so cell 0 wins all ties between the identical centroids.
    assigned = {r.vec_id: r.cell for r in similarity.ivf_assign(embeddings, 2).collect()}
    assert assigned[0] == 0 and assigned[1] == 0
    assert assigned[2] == 0 and assigned[5] == 0
    # orthogonal (cos 0 to both) and opposite (cos -1) still pick cell 0 by
    # tie-break — membership is total: every vector lands in exactly one cell
    assert set(assigned) == {0, 1, 2, 3, 4, 5}


def test_ivf_topk_searches_own_cell_only(embeddings):
    out = similarity.ivf_topk(embeddings, [0], k=10, ncells=2).collect()
    cands = {r.cand_id for r in out}
    # with these degenerate centroids all vectors share cell 0, so IVF = brute
    brute = {r.cand_id for r in similarity.brute_force_topk(embeddings, [0], k=10).collect()}
    assert cands == brute
    # scores must agree with brute force exactly (same cosine, same rounding)
    ivf_scores = {r.cand_id: r.cos_sim for r in out}
    brute_scores = {
        r.cand_id: r.cos_sim
        for r in similarity.brute_force_topk(embeddings, [0], k=10).collect()
    }
    assert ivf_scores == brute_scores


def test_ivf_kmeans_zero_iters_equals_training_free(embeddings):
    """With no Lloyd rounds the k-means IVF must reproduce the seed-centroid
    IVF exactly (same quantizer, same search skeleton)."""
    base = {
        (r.query_id, r.rank): (r.cand_id, r.cos_sim)
        for r in similarity.ivf_topk(embeddings, [0, 1], k=3, ncells=2).collect()
    }
    km = {
        (r.query_id, r.rank): (r.cand_id, r.cos_sim)
        for r in similarity.ivf_kmeans_topk(
            embeddings, [0, 1], k=3, ncells=2, iters=0
        ).collect()
    }
    assert base == km and base


def test_ivf_kmeans_assigns_every_vector(embeddings):
    n = embeddings.count()
    cent = similarity.kmeans_centroids(embeddings, ncells=2, iters=2)
    vecs = embeddings.selectExpr(
        "vec_id", "embedding",
        "sqrt(aggregate(embedding, 0D, (a, v) -> a + cast(v as double) * cast(v as double)))  AS nrm",
    )
    assigned = similarity._assign_cells(vecs, cent)
    assert assigned.count() == n
    assert assigned.filter("cell IS NULL").count() == 0


def test_ivf_multiprobe_full_probe_equals_brute_force(spark):
    # Non-degenerate corpus: 4 well-separated direction clusters so the
    # 4 seed centroids (vec_id < 4) genuinely partition the space.
    import random

    rng = random.Random(3)
    dirs = [
        [1.0, 0.0, 0.0, 0.0],
        [0.0, 1.0, 0.0, 0.0],
        [0.0, 0.0, 1.0, 0.0],
        [0.0, 0.0, 0.0, 1.0],
    ]
    rows = []
    for i in range(24):
        d = dirs[i % 4]
        rows.append((i, [v + rng.uniform(-0.05, 0.05) for v in d]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    brute = {
        (r.query_id, r.rank): r.cand_id
        for r in similarity.brute_force_topk(emb, [4, 5], k=3).collect()
    }
    full = {
        (r.query_id, r.rank): r.cand_id
        for r in similarity.ivf_multiprobe_topk(
            emb, [4, 5], k=3, ncells=4, nprobe=4
        ).collect()
    }
    assert full == brute and brute

    # nprobe=1 must equal the single-probe IVF operator exactly
    one = sorted(
        map(tuple, similarity.ivf_multiprobe_topk(emb, [4, 5], k=3, ncells=4, nprobe=1).collect())
    )
    ivf1 = sorted(
        map(tuple, similarity.ivf_topk(emb, [4, 5], k=3, ncells=4).collect())
    )
    assert one == ivf1

    # probing more cells can only widen the candidate set
    c1 = {r.cand_id for r in similarity.ivf_multiprobe_topk(emb, [4], k=24, ncells=4, nprobe=1).collect()}
    c2 = {r.cand_id for r in similarity.ivf_multiprobe_topk(emb, [4], k=24, ncells=4, nprobe=2).collect()}
    assert c1 <= c2


def test_ann_pq_adc_prefers_near_cluster(spark):
    """Two far-apart clusters; ADC over PQ codes must rank same-cluster
    vectors first, deterministically under repartition."""
    from stockpulse_batch_realtime_etl_spark.operators.similarity import (
        ann_pq_adc_topk,
    )

    rows = []
    for i in range(10):
        if i % 2 == 0:  # cluster A (vec 0 seeds code 0)
            base = [10.0, 10.0, 0.0, 0.0]
        else:  # cluster B (vec 1 seeds code 1)
            base = [-10.0, -10.0, 5.0, 5.0]
        rows.append((i, [float(b) + i * 0.01 for b in base], 0))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = ann_pq_adc_topk(emb, [0], k=3, n_sub=2, kpq=2, iters=1, dim=4)
    got = out.collect()
    assert len(got) == 3
    assert all(r.cand_id % 2 == 0 for r in got), got  # all cluster-A
    again = ann_pq_adc_topk(
        emb.repartition(5), [0], k=3, n_sub=2, kpq=2, iters=1, dim=4
    ).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, again))


def test_pq_assign_guards_null_and_overflow_distances(spark):
    """The PQ argmin's packed BIGINT has two loud failure modes that must
    stay DISTINCT: a NULL distance (null embedding component) raises its
    own error rather than falling through when/otherwise into the
    domain-overflow branch, and a distance past _PQ_DIST_CAP raises the
    overflow error.  The cap itself is 2⁵³/10⁶ so every admitted scaled
    key is an exact integer in a double."""
    assert similarity._PQ_DIST_CAP == float(1 << 53) / 1e6

    codebooks = spark.createDataFrame(
        [(0, 0, 0, 0.0), (0, 0, 1, 0.0)], "s int, code int, d int, cx double"
    )

    def exploded(x0):
        # both components carry x0 so the NULL case nulls the whole
        # sum (Spark's sum skips nulls; a lone null would yield 0.0)
        return spark.createDataFrame(
            [(7, 0, 0, x0), (7, 1, 0, x0)],
            "vec_id long, d int, s int, x double",
        )

    with pytest.raises(Exception, match="NULL"):
        similarity._pq_assign(exploded(None), codebooks).collect()
    with pytest.raises(Exception, match="packing domain"):
        similarity._pq_assign(exploded(1e6), codebooks).collect()
    ok = similarity._pq_assign(exploded(1.0), codebooks).collect()
    assert [(r.vec_id, r.s, r.code) for r in ok] == [(7, 0, 0)]


def test_ann_ivfpq_subset_of_cell_with_adc_order(spark):
    """IVF-PQ candidates must come from the query's IVF cell and rank by
    the same ADC distances the pure-PQ scorer computes."""
    from stockpulse_batch_realtime_etl_spark.operators.similarity import (
        ann_ivfpq_topk,
    )
    from stockpulse_batch_realtime_etl_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    out = ann_ivfpq_topk(emb, [0, 1], k=3).collect()
    assert {r.query_id for r in out} <= {0, 1}
    for qid in (0, 1):
        rows = sorted(
            (r for r in out if r.query_id == qid), key=lambda r: r.rank
        )
        dists = [r.adc_dist for r in rows]
        assert dists == sorted(dists)
    again = ann_ivfpq_topk(emb.repartition(7), [0, 1], k=3).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_recall_report_counts_hits_and_zero_methods(spark):
    from stockpulse_batch_realtime_etl_spark.operators.similarity import (
        recall_report,
    )

    truth = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 20), (2, 21)], "query_id long, cand_id long"
    )
    approx = {
        "good": spark.createDataFrame(
            [(1, 10), (1, 11), (2, 20), (2, 99)], "query_id long, cand_id long"
        ),
        "dead": spark.createDataFrame(
            [(1, 98), (2, 99)], "query_id long, cand_id long"
        ),
    }
    rows = {r.method: r for r in recall_report(truth, approx).collect()}
    assert rows["good"].hits == 3 and rows["good"].total == 4
    assert rows["good"].recall_at_k == 0.75
    # zero-hit method still reports (doesn't vanish from the join)
    assert rows["dead"].hits == 0 and rows["dead"].recall_at_k == 0.0


# --- SemDeDup ----------------------------------------------------------------

class TestSemanticDedup:
    def test_keep_lowest_within_cluster(self, spark):
        # two tight clusters along different axes; ncells=2 seeds from
        # vec_id 0 and 1, which sit in different clusters
        rows = [
            (0, [1.0, 0.0, 0.0, 0.0], 0),
            (1, [0.0, 1.0, 0.0, 0.0], 1),
            (2, [1.0, 0.01, 0.0, 0.0], 0),   # ~dup of 0
            (3, [0.0, 1.0, 0.01, 0.0], 1),   # ~dup of 1
            (4, [0.0, 0.02, 1.0, 0.0], 1),   # own direction, lands w/ cluster of 1? no: cos small
        ]
        emb = spark.createDataFrame(
            rows, "vec_id long, embedding array<float>, label int"
        )
        out = {
            r.vec_id: r
            for r in similarity.semantic_dedup(emb, ncells=2, iters=1, threshold=0.95).collect()
        }
        assert out[0].is_kept and out[1].is_kept       # cluster minima survive
        assert not out[2].is_kept                      # dominated by 0
        assert not out[3].is_kept                      # dominated by 1
        assert out[4].is_kept                          # nothing ≥0.95-similar
        assert len(out) == 5                           # whole corpus covered

    def test_threshold_one_keeps_non_identical(self, spark):
        rows = [
            (0, [1.0, 0.0], 0),
            (1, [1.0, 0.0], 0),     # exact dup → cos 1.0
            (2, [0.9, 0.1], 0),
        ]
        emb = spark.createDataFrame(
            rows, "vec_id long, embedding array<float>, label int"
        )
        out = {
            r.vec_id: r.is_kept
            for r in similarity.semantic_dedup(emb, ncells=1, iters=1, threshold=1.0).collect()
        }
        assert out == {0: True, 1: False, 2: True}


def test_semdedup_recall_single_cell_is_exhaustive(embeddings):
    # ncells=1 → every pair is within-cell → recall is exactly 1.0
    r = similarity.semdedup_recall_report(
        embeddings, ncells=1, iters=1, threshold=0.9
    ).collect()[0]
    assert r.n_truth_pairs > 0
    assert r.n_found_pairs == r.n_truth_pairs
    assert r.recall == 1.0


def test_semdedup_recall_found_subset_of_truth(embeddings):
    # with real cells, found ⊆ truth and recall ∈ [0, 1]
    r = similarity.semdedup_recall_report(
        embeddings, ncells=3, iters=2, threshold=0.9
    ).collect()[0]
    assert 0 <= r.n_found_pairs <= r.n_truth_pairs
    assert 0.0 <= r.recall <= 1.0


def test_kmeans_cell_report_partitions_corpus(embeddings):
    out = similarity.kmeans_cell_report(embeddings, ncells=3, iters=2).collect()
    # every vector lands in exactly one cell; means are valid cosines
    assert sum(r.n_members for r in out) == embeddings.count()
    assert all(-1.0 <= r.mean_cos <= 1.0 for r in out)


def test_label_centroid_similarity_shape_and_self_similarity(spark):
    from stockpulse_batch_realtime_etl_spark.operators.similarity import (
        label_centroid_similarity,
    )
    from stockpulse_batch_realtime_etl_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    out = label_centroid_similarity(emb).collect()
    labels = {r["label"] for r in emb.select("label").distinct().collect()}
    n = len(labels)
    assert len(out) == n * (n - 1) // 2
    for r in out:
        assert r["label_a"] < r["label_b"]
        assert -1.0 <= r["cos_sim"] <= 1.0
    # duplicating a label's rows as a new label yields an identical
    # centroid: cosine with itself-as-other-label must be exactly 1
    from pyspark.sql import functions as F

    twin = emb.union(
        emb.filter(F.col("label") == 0).withColumn("label", F.lit(99))
    )
    res = {
        (r["label_a"], r["label_b"]): r["cos_sim"]
        for r in label_centroid_similarity(twin).collect()
    }
    assert res[(0, 99)] == 1.0


def test_semdedup_adaptive_ncells_matches_gate_config(spark):
    """The adaptive cell rule (cells ∝ n, bounded cell size — the probe
    fix for quadratic Σ|cell|² growth) must resolve to the historical
    fixed ncells at EVERY driver sf, so the fixed-ncells oracle replay
    stays hash-identical; and it must scale linearly past them."""
    from stockpulse_batch_realtime_etl_spark.operators.similarity import (
        adaptive_ncells,
    )
    from stockpulse_batch_realtime_etl_spark.sources.tables import load_table

    for sf_dir in (
        "/root/testdata/sf0.001",
        "/root/testdata/sf0.01",
        "/root/testdata/sf0.1",
    ):
        n = load_table(spark, sf_dir, "embeddings").count()
        assert adaptive_ncells(n) == 8, (sf_dir, n)
    # beyond the shipped sfs: cell size stays ~250 → pair space linear
    assert adaptive_ncells(20_000) == 80
    assert adaptive_ncells(1_000_000_000) == 4_000_000


def test_semdedup_recall_truth_cap_bounds_pair_space(spark):
    """Above ``truth_cap`` vectors, the recall harness counts pairs over
    exactly the cap smallest-md5(vec_id) vectors — C(cap,2) truth pairs on
    an all-identical corpus — and is a no-op at or below the cap."""
    n = 30
    rows = [(i, [1.0, 0.0, 0.0, 0.0], 0) for i in range(n)]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    capped = similarity.semdedup_recall_report(
        emb, 4, 1, 0.9, truth_cap=10
    ).collect()[0]
    assert capped.n_truth_pairs == 45  # C(10, 2)
    assert capped.n_found_pairs == 45  # identical vectors → one cell
    assert capped.recall == 1.0
    uncapped = similarity.semdedup_recall_report(
        emb, 4, 1, 0.9, truth_cap=None
    ).collect()[0]
    assert uncapped.n_truth_pairs == n * (n - 1) // 2
    noop = similarity.semdedup_recall_report(
        emb, 4, 1, 0.9, truth_cap=n
    ).collect()[0]
    assert noop.n_truth_pairs == n * (n - 1) // 2


def test_search_adaptive_ncells_matches_gate_config(spark):
    """The IVF SEARCH cell rule (ncells ∝ √n, FAISS-style — per-query scan
    cost grows as √n instead of linearly) must resolve to the historical 8
    at every driver sf, and scale as √n past them."""
    from stockpulse_batch_realtime_etl_spark.operators.similarity import (
        adaptive_ncells_search,
    )
    from stockpulse_batch_realtime_etl_spark.sources.tables import load_table

    for sf_dir in (
        "/root/testdata/sf0.001",
        "/root/testdata/sf0.01",
        "/root/testdata/sf0.1",
    ):
        n = load_table(spark, sf_dir, "embeddings").count()
        assert adaptive_ncells_search(n) == 8, (sf_dir, n)
    assert adaptive_ncells_search(20_000) == 28
    assert adaptive_ncells_search(1_000_000_000) == 6_324


def test_adaptive_ncells_sql_mirrors_python_rule():
    """The oracle scalar subqueries must compute EXACTLY the Python rules
    at any corpus size — a fixture larger than the shipped sfs (where the
    rules no longer resolve to 8) must flip Spark and DuckDB together, not
    turn the gate into a hash mismatch (round-7 advice)."""
    from math import isqrt

    import duckdb

    from stockpulse_batch_realtime_etl_spark.operators.similarity import (
        adaptive_ncells,
        adaptive_ncells_search,
    )
    # registry first: queries_ext is designed to be pulled in AT THE END of
    # queries_registry (circular partner); importing it directly first
    # would re-enter the registry with a half-populated QUERIES dict
    from stockpulse_batch_realtime_etl_spark import queries_registry  # noqa: F401
    from stockpulse_batch_realtime_etl_spark.queries_ext import (
        _NCELLS_DEDUP_SQL,
        _NCELLS_SEARCH_SQL,
    )

    assert adaptive_ncells_search(20_000) == max(8, isqrt(20_000) // 5)
    con = duckdb.connect()
    for n in (1, 7, 64, 499, 500, 2000, 2001, 4096, 20_000, 999_983):
        con.execute(
            "CREATE OR REPLACE TABLE embeddings AS "
            "SELECT * FROM range(?) t(vec_id)",
            [n],
        )
        assert con.sql(f"SELECT {_NCELLS_SEARCH_SQL}").fetchone()[0] == (
            adaptive_ncells_search(n)
        ), n
        assert con.sql(f"SELECT {_NCELLS_DEDUP_SQL}").fetchone()[0] == (
            adaptive_ncells(n)
        ), n


def test_two_level_assignment_equals_flat_on_structured_corpus(spark):
    """The two-level quantizer (SCALE.md's production path past the
    ~10⁵-cell centroid-broadcast ceiling) reproduces the flat one-hop
    argmax EXACTLY on a corpus whose routing margins make hierarchical
    assignment lossless: 8 groups over 35 dims, each group's vectors and
    centroid sharing a 0.3-weight component on a designated super-route
    dimension (group g routes via dim 32 + g % 3), so every vector's
    nearest super-centroid is provably the one whose children contain
    its nearest centroid.  Forced via two_level=True (the auto rule
    engages only above TWO_LEVEL_CELL_THRESHOLD = 10⁵ cells, so shipped
    sfs always take the flat path — gate-neutrality is the point)."""
    rows = []
    vid = 0
    for g in range(8):
        for m in range(6):  # 6 members per group
            v = [0.0] * 35
            v[g] = 1.0 + 0.01 * m  # scale jitter, direction-preserving
            v[32 + g % 3] = 0.3
            rows.append((vid, v, g))
            vid += 1
    # seeds: kmeans_centroids seeds cells from vec_id < ncells, so order
    # the first 8 ids one-per-group
    order = sorted(range(len(rows)), key=lambda i: (rows[i][0] % 6, rows[i][2]))
    rows = [(new_id, rows[old][1], rows[old][2])
            for new_id, old in enumerate(order)]
    embs = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    cent = similarity.kmeans_centroids(embs, ncells=8, iters=2)
    from stockpulse_batch_realtime_etl_spark.sources.tables import fan_out
    from pyspark.sql import functions as F

    vecs = fan_out(embs).select(
        "vec_id", "embedding", similarity._norm(F.col("embedding")).alias("nrm")
    )
    flat = {
        r.vec_id: r.cell
        for r in similarity._assign_cells(vecs, cent).collect()
    }
    two = {
        r.vec_id: r.cell
        for r in similarity._assign_cells(
            vecs, cent, ncells=8, two_level=True
        ).collect()
    }
    assert len(flat) == len(rows)
    assert flat == two
    # sanity: the corpus really clusters — 8 distinct cells, 6 members each
    from collections import Counter
    assert sorted(Counter(flat.values()).values()) == [6] * 8


def test_two_level_auto_rule_is_flat_below_threshold(embeddings):
    """ncells at any shipped sf is far below TWO_LEVEL_CELL_THRESHOLD, so
    the auto path must be the flat broadcast argmax — pinned by plan
    shape: the flat plan has no join on a super-cell key (exactly one
    aggregate after the broadcast scoring join)."""
    from pyspark.sql import functions as F

    cent = similarity.kmeans_centroids(embeddings, ncells=2, iters=1)
    vecs = embeddings.select(
        "vec_id", "embedding", similarity._norm(F.col("embedding")).alias("nrm")
    )
    auto = similarity._assign_cells(vecs, cent, ncells=2)
    forced = similarity._assign_cells(vecs, cent, ncells=2, two_level=True)
    assert "_sup" not in auto.schema.simpleString()
    # the two paths still agree on this tiny separable corpus
    a = {r.vec_id: r.cell for r in auto.collect()}
    f = {r.vec_id: r.cell for r in forced.collect()}
    assert a == f


def test_two_level_nprobe_rule():
    """The default probe count scales as max(8, ⌈nsuper^(2/3)⌉) — the rule
    calibrated on the r10 worst-case sweep (SCALE.md): a constant 8 decays
    to 0.62 pair co-location at nsuper=2000 while nsuper^(2/3) holds ≥0.99
    at every measured decade.  Pin the floor, the measured calibration
    points, and monotonicity."""
    f = similarity.two_level_nprobe
    assert f(2) == 8 and f(29) == 10  # floor + the r9 measurement shape
    assert f(200) == 35 and f(633) == 74 and f(2000) == 159
    vals = [f(n) for n in range(2, 5000, 37)]
    assert vals == sorted(vals)
    # exactness guarantee is reachable: small supers get full probe
    assert all(f(n) >= n for n in range(2, 9))


def test_two_level_children_join_is_salted(embeddings):
    """The children cogroup's reduce key would otherwise be `_sup`
    alone (nsuper ≈ √ncells distinct values — corpus·nprobe/nsuper rows
    per group at scale); the salt must appear in the grouping key so the
    per-task bound is explicit, not AQE-dependent.  Pinned by plan
    shape: the optimized plan's FlatMapCoGroupsInPandas groups BOTH
    sides on (_sup, _salt)."""
    from pyspark.sql import functions as F

    cent = similarity.kmeans_centroids(embeddings, ncells=4, iters=1)
    vecs = embeddings.select(
        "vec_id", "embedding", similarity._norm(F.col("embedding")).alias("nrm")
    )
    two = similarity._assign_cells_two_level(vecs, cent, nsuper=2)
    plan = two._jdf.queryExecution().optimizedPlan().toString()
    cg = [ln for ln in plan.splitlines() if "FlatMapCoGroupsInPandas" in ln]
    assert cg, f"two-level scoring is no longer a cogroup:\n{plan}"
    salted = [
        ln
        for ln in cg
        if ln.count("_sup") >= 2 and ln.count("_salt") >= 2
    ]
    assert salted, f"cogroup key not salted on both sides:\n{plan}"


def test_two_level_join_back_is_total_with_childless_super(spark):
    """A super-centroid can end up CHILDLESS when 6dp rounding ties a
    near-duplicate centroid pair at the children argmax (ties go to the
    lowest super id, so the higher-id near-twin keeps nothing — not even
    itself).  Before r12, a vector whose forced single probe picked that
    super vanished through the inner join-back (the r11 advice finding);
    the probe ranking now covers only supers owning ≥1 child, so
    assignment is TOTAL for any nprobe ≥ 1 and the recovered vector
    lands on its globally-nearest (flat) cell.

    Geometry: super 1 sits eps=4e-4 off super 0, so cos(c1, s0) ≈
    1 − eps²/2 = 0.99999992 rounds to 1.000000 — a rounded TIE with
    cos(c1, s1) = 1, routing cell 1 (super 1's own cell) to super 0 and
    leaving super 1 childless.  Probe vector v sits delta=0.01 off, far
    enough that its rounded super cosines do NOT tie (0.999954 vs
    0.999950), so its raw top-1 probe is exactly the childless super."""
    import numpy as np
    from pyspark.sql import functions as F

    eps, delta = 4e-4, 1e-2
    c1 = np.array([1.0, eps, 0.0, 0.0])
    c1 = (c1 / np.linalg.norm(c1)).astype(np.float32)
    v = np.array([1.0, delta, 0.0, 0.0])
    v = (v / np.linalg.norm(v)).astype(np.float32)

    def r6(x):  # Spark ROUND: HALF_UP, 6dp
        return np.sign(x) * np.floor(np.abs(x) * 1e6 + 0.5) / 1e6

    def cos(a, b):
        a, b = np.asarray(a, np.float64), np.asarray(b, np.float64)
        return r6(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))

    s0 = [1.0, 0.0, 0.0, 0.0]
    # the adversarial premise, asserted so drift in the rounding rule or
    # float32 storage can't silently neuter this test:
    assert cos(c1, s0) == 1.0  # rounded tie → cell 1 routes to super 0
    assert cos(v, c1) > cos(v, s0)  # v's raw top probe = super 1

    cent = spark.createDataFrame(
        [
            (0, s0),
            (1, [float(x) for x in c1]),
            (2, [0.0, 0.0, 1.0, 0.0]),
            (3, [0.0, 0.0, 0.0, 1.0]),
        ],
        "cell long, c_emb array<float>",
    )
    vecs = spark.createDataFrame(
        [
            (100, [float(x) for x in v]),
            (101, [0.0, 0.0, 1.0, 0.0]),
            (102, [1.0, 0.0, 0.0, 0.0]),
        ],
        "vec_id long, embedding array<float>",
    ).select(
        "vec_id", "embedding", similarity._norm(F.col("embedding")).alias("nrm")
    )
    two = {
        r.vec_id: r.cell
        for r in similarity._assign_cells_two_level(
            vecs, cent, nsuper=2, nprobe=1
        ).collect()
    }
    assert len(two) == 3, f"join-back dropped a vector: {two}"
    flat = {
        r.vec_id: r.cell for r in similarity._assign_cells(vecs, cent).collect()
    }
    assert two == flat == {100: 1, 101: 2, 102: 0}


def test_coloc_sweep_mirror_matches_shipped_routing(spark):
    """The r10 nprobe rule was calibrated by tools/two_level_coloc_sweep.py,
    a numpy mirror of the shipped two-level routing.  This pins that the
    mirror measures THE SHIPPED ALGORITHM: on a random corpus (no margin
    structure, ties measure-zero) the mirror's per-vector assignment must
    equal _assign_cells_two_level's, at a partial nprobe where the two-level
    result genuinely differs from flat — so agreement here is evidence the
    routing math matches, not that both collapsed to exhaustive search."""
    import importlib.util
    import pathlib
    import random

    import numpy as np
    from pyspark.sql import functions as F

    spec = importlib.util.spec_from_file_location(
        "coloc_sweep",
        pathlib.Path(__file__).resolve().parents[1]
        / "tools"
        / "two_level_coloc_sweep.py",
    )
    sweep = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(sweep)

    rng = random.Random(4242)
    d, ncells, nvec, nsuper, nprobe = 12, 30, 90, 6, 2
    cents_np = np.array(
        [[rng.uniform(-1, 1) for _ in range(d)] for _ in range(ncells)],
        dtype=np.float32,
    )
    cents_np /= np.linalg.norm(cents_np, axis=1, keepdims=True)
    vecs_np = np.array(
        [[rng.uniform(-1, 1) for _ in range(d)] for _ in range(nvec)],
        dtype=np.float32,
    )
    vecs_np /= np.linalg.norm(vecs_np, axis=1, keepdims=True)

    # mirror: children routing + top-nprobe supers + union argmax
    child_sup = sweep.chunked_argmax(cents_np, cents_np[:nsuper])
    route_order = np.argsort(
        -(vecs_np @ cents_np[:nsuper].T), axis=1, kind="stable"
    )
    mirror = sweep.two_level_assign(
        vecs_np, cents_np, child_sup, route_order[:, :nprobe]
    )

    cent = spark.createDataFrame(
        [(i, [float(x) for x in cents_np[i]]) for i in range(ncells)],
        "cell long, c_emb array<double>",
    )
    vecs = spark.createDataFrame(
        [(i, [float(x) for x in vecs_np[i]]) for i in range(nvec)],
        "vec_id long, embedding array<double>",
    ).select(
        "vec_id", "embedding", similarity._norm(F.col("embedding")).alias("nrm")
    )
    shipped = {
        r.vec_id: r.cell
        for r in similarity._assign_cells_two_level(
            vecs, cent, nsuper, nprobe=nprobe
        ).collect()
    }
    flat = {
        r.vec_id: r.cell
        for r in similarity._assign_cells(vecs, cent).collect()
    }
    assert shipped == {i: int(mirror[i]) for i in range(nvec)}
    # and the partial probe really is partial — otherwise this test would
    # only pin the exhaustive case the exactness law already covers
    assert shipped != flat


def test_coloc_sweep_mirror_matches_shipped_routing_large_geometry(spark):
    """Second, production-shaped pin of the mirror↔Spark routing contract
    (the r10 verdict asked for a rung near nsuper ≈ 45 / ncells ≈ 2k so
    the nprobe-rule calibration's mirror is held at two scales, not one):
    same vector-for-vector equality as the small pin, at a geometry where
    the children blocks are ~45 deep and the cogroup BLAS path (r11) runs
    genuinely batched groups.  nprobe = 7 keeps the probe strictly
    partial (the result must differ from flat for the pin to carry
    information)."""
    import importlib.util
    import pathlib

    import numpy as np
    from pyspark.sql import functions as F

    spec = importlib.util.spec_from_file_location(
        "coloc_sweep",
        pathlib.Path(__file__).resolve().parents[1]
        / "tools"
        / "two_level_coloc_sweep.py",
    )
    sweep = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(sweep)

    rng = np.random.default_rng(777)
    d, ncells, nvec, nsuper, nprobe = 16, 2000, 300, 45, 7
    cents_np = rng.standard_normal((ncells, d)).astype(np.float64)
    cents_np /= np.linalg.norm(cents_np, axis=1, keepdims=True)
    vecs_np = rng.standard_normal((nvec, d)).astype(np.float64)
    vecs_np /= np.linalg.norm(vecs_np, axis=1, keepdims=True)

    child_sup = sweep.chunked_argmax(
        cents_np.astype(np.float32), cents_np[:nsuper].astype(np.float32)
    )
    route_order = np.argsort(
        -(vecs_np @ cents_np[:nsuper].T), axis=1, kind="stable"
    )
    mirror = sweep.two_level_assign(
        vecs_np.astype(np.float32),
        cents_np.astype(np.float32),
        child_sup,
        route_order[:, :nprobe],
    )

    cent = spark.createDataFrame(
        [(i, [float(x) for x in cents_np[i]]) for i in range(ncells)],
        "cell long, c_emb array<double>",
    )
    vecs = spark.createDataFrame(
        [(i, [float(x) for x in vecs_np[i]]) for i in range(nvec)],
        "vec_id long, embedding array<double>",
    ).select(
        "vec_id", "embedding", similarity._norm(F.col("embedding")).alias("nrm")
    )
    shipped = {
        r.vec_id: r.cell
        for r in similarity._assign_cells_two_level(
            vecs, cent, nsuper, nprobe=nprobe
        ).collect()
    }
    flat = {
        r.vec_id: r.cell
        for r in similarity._assign_cells(vecs, cent).collect()
    }
    assert shipped == {i: int(mirror[i]) for i in range(nvec)}
    assert shipped != flat  # genuinely partial probe


def test_two_level_full_probe_equals_flat_on_any_corpus(spark):
    """Multi-probe exhaustiveness law: with nprobe ≥ nsuper the union of
    probed super-cells' children is EVERY centroid, so the two-level
    argmax equals the flat assignment EXACTLY — on any corpus, no margin
    structure required (unlike the structured-corpus equality test).
    Uses an unstructured random corpus where single-probe routing is
    noise-driven, i.e. the hardest case."""
    import math
    import random

    rng = random.Random(99)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(16)], 0) for i in range(120)
    ]
    embs = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    ncells = 24
    cent = similarity.kmeans_centroids(embs, ncells, iters=1)
    from pyspark.sql import functions as F

    vecs = embs.select(
        "vec_id", "embedding", similarity._norm(F.col("embedding")).alias("nrm")
    )
    flat = {
        r.vec_id: r.cell
        for r in similarity._assign_cells(vecs, cent).collect()
    }
    nsuper = max(2, math.isqrt(ncells - 1) + 1)
    full = {
        r.vec_id: r.cell
        for r in similarity._assign_cells_two_level(
            vecs, cent, nsuper, nprobe=nsuper
        ).collect()
    }
    assert flat == full and len(flat) == 120
