"""Deduplication operators over the ``documents`` table.

The LLM-pipeline dedup ladder, each rung designed for 100 TB:

* **exact**        — md5 fingerprint of normalized text, hash groupBy.
  One shuffle on the fingerprint; at scale this is the cheapest possible
  dedup (the shuffle carries (fingerprint, doc_id) pairs only).
* **minhash LSH**  — word-shingle → k salted-md5 minhashes → banded bucket
  self-join.  Candidate generation touches only same-bucket pairs: the
  classic sub-quadratic near-dup path (Broder '97; MMDS ch.3).
* **simhash**      — sign-aggregated token-hash bits; near-dups share the
  fingerprint (Charikar '02 / Manku et al. WWW'07) — dedup becomes an
  exact groupBy again.
* **n-gram Jaccard** — exact verify step: inverted shingle index self-join
  counts intersections; only pairs sharing ≥1 shingle are ever materialized.

Engine-portability: every hash is ``md5`` (identical across Spark / DuckDB /
anything), never engine-private ``hash()``/``xxhash64``, so the DuckDB
oracle can replay the exact algorithm.  Minhash "permutations" are salted
md5s: ``min(md5(i || ':' || shingle))`` over i = 0..k-1 — min over hex
strings is a valid uniform minhash and needs no bigint conversion.

Simhash bits come from md5 nibbles via ``instr('0123456789abcdef', ...)``
arithmetic — portable to any SQL engine (no hex-cast builtins needed).
"""

from __future__ import annotations

import time
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from stockpulse_batch_realtime_etl_spark.sources.tables import fan_out

# --- normalization + fingerprint -------------------------------------------

def _norm_text(col: str = "text") -> Column:
    """lower + collapse runs of whitespace + trim — the canonical exact-dedup
    normalization (case/whitespace-insensitive)."""
    return F.trim(F.regexp_replace(F.lower(F.col(col)), "\\s+", " "))


def doc_fingerprints(docs: DataFrame) -> DataFrame:
    """md5 fingerprint of normalized text per document (rolling-hash-free
    document fingerprinting; the fingerprint column is the dedup key)."""
    return docs.select(
        "doc_id", F.md5(_norm_text()).alias("fingerprint"), F.length("text").alias("char_len")
    )


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Exact dedup groups: one row per distinct fingerprint with the kept
    (minimum) doc_id and the duplicate count.  Keep-policy = min doc_id —
    deterministic and order-insensitive."""
    return (
        doc_fingerprints(docs)
        .groupBy("fingerprint")
        .agg(
            F.min("doc_id").alias("kept_doc_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


# --- shingles ---------------------------------------------------------------

def shingles(docs: DataFrame, n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles per doc: (doc_id, shingle).

    Shape: build the gram array with ``transform`` over token indices,
    explode, then ``distinct()``.  The distinct LOOKS like a shuffle but
    Spark's partial (map-side) aggregation collapses per-partition
    duplicates first, so the exchange carries near-distinct pairs — and the
    explode/distinct pipeline stays inside whole-stage codegen.

    Perf note (measured, sf0.1): gram construction uses the ``zip_with``
    slice ladder (``text.adjacent_ngrams``), NOT ``transform`` over an
    index ``sequence``: lambda HOFs are interpreted and CollapseProject
    re-inlines the tokenization into every per-element lambda reference,
    re-running the regex once per gram — O(len²) per document, measured
    ~12× slower.  The ladder keeps per-element work O(1); explode +
    hash-aggregate then stays the Spark-native fast path.
    """
    from stockpulse_batch_realtime_etl_spark.operators.text import (
        adjacent_ngrams,
    )

    toks = F.split(_norm_text(), " ")
    # Full n-grams only: docs shorter than n tokens contribute no shingles
    # (standard minhash convention; keeps semantics identical to the oracle's
    # positional self-join formulation).
    grams = adjacent_ngrams(toks, n)
    return (
        fan_out(docs)
        .select("doc_id", F.explode(grams).alias("shingle"))
        .filter(F.col("shingle") != "")
        .distinct()
    )


# --- minhash + LSH ----------------------------------------------------------

def minhash_signatures(docs: DataFrame, num_hashes: int = 12, n: int = 3) -> DataFrame:
    """k-minhash signature per doc:
    ``mh_i = min(md5(i || ':' || shingle)[:15])`` — the 60-bit (15 hex
    char) prefix of each salted md5.

    One groupBy over the shingle table computes all k mins in a single
    partial→final aggregate, and the 60-bit prefix is what makes that
    aggregate a real HASH aggregate: the prefix packs into a signed
    BIGINT (``conv(hex, 16, 10)``), and only flat primitive buffers are
    UnsafeRow-mutable — a ``min(<hex string>)`` buffer demotes the whole
    groupBy to SortAggregate, i.e. a per-partition sort of the exploded
    SHINGLE stream (≈ corpus token scale, the widest stream in this
    module — measured in round 12; the r11 array-buffer lesson, string
    edition).  Map-side combine reduces state to k longs per (partition,
    doc) and the exchange is independent of document length; the hex
    presentation is rebuilt per doc AFTER the aggregate.  Estimator
    quality is unchanged: a 60-bit minhash collides two distinct
    shingles with p ≈ n²/2⁶¹ — negligible at any corpus size vs the
    1/k estimator noise.  (An array-side ``array_min(transform(...))``
    variant benched ~8× slower — see the perf note on ``shingles``.)
    """
    sh = shingles(docs, n)
    aggs = [
        F.min(
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(f"{i}:"), F.col("shingle"))), 1, 15
                ),
                16,
                10,
            ).cast("bigint")
        ).alias(f"_m{i}")
        for i in range(num_hashes)
    ]
    packed = sh.groupBy("doc_id").agg(*aggs)
    return packed.select(
        "doc_id",
        *[
            F.lpad(
                F.lower(F.conv(F.col(f"_m{i}").cast("string"), 10, 16)),
                15,
                "0",
            ).alias(f"mh{i}")
            for i in range(num_hashes)
        ],
    )


def lsh_bands(
    sigs: DataFrame, num_hashes: int = 12, band_size: int = 2
) -> DataFrame:
    """Fold the signature into bands: (doc_id, band_idx, band_hash) where
    band_hash = md5(concat of the band's minhashes).  Long format so the
    bucket join is a single equi-join on (band_idx, band_hash)."""
    if num_hashes % band_size:
        raise ValueError(
            f"num_hashes={num_hashes} must be divisible by "
            f"band_size={band_size} — a remainder would silently drop the "
            "trailing minhashes and change the LSH S-curve"
        )
    bands = []
    for b in range(num_hashes // band_size):
        cols = [F.col(f"mh{b * band_size + j}") for j in range(band_size)]
        bands.append(
            F.struct(
                F.lit(b).alias("band_idx"),
                F.md5(F.concat_ws("|", *cols)).alias("band_hash"),
            )
        )
    return sigs.select(
        "doc_id", F.explode(F.array(*bands)).alias("band")
    ).select("doc_id", "band.band_idx", "band.band_hash")


def _band_candidates(bands: DataFrame) -> DataFrame:
    """(doc_a < doc_b) pairs sharing ≥1 band bucket — the one bucket
    self-join, shared by :func:`lsh_candidate_pairs` and the estimator
    audit so the candidate rule cannot drift between them."""
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )


def lsh_candidate_pairs(
    docs: DataFrame, num_hashes: int = 12, band_size: int = 2, n: int = 3
) -> DataFrame:
    """Near-dup candidate pairs: docs sharing ≥1 LSH band bucket.

    Self-join on (band_idx, band_hash) with doc_a < doc_b, then distinct.
    At 100 TB the bucket join shuffles on band_hash — uniformly distributed
    by construction (md5), so no skew; a giant bucket would mean actual
    mass-duplication, which AQE skew-split absorbs.
    """
    bands = lsh_bands(minhash_signatures(docs, num_hashes, n), num_hashes, band_size)
    return _band_candidates(bands)


# --- exact n-gram Jaccard ---------------------------------------------------

def jaccard_pairs(
    docs: DataFrame,
    n: int = 3,
    min_jaccard: float = 0.0,
    k: int | None = None,
    df_cap: int | None = None,
) -> DataFrame:
    """Exact shingle-Jaccard for every doc pair sharing ≥1 shingle.

    Inverted-index self-join: |A∩B| from the shingle join, |A|,|B| from a
    per-doc size table (broadcast when dimension-sized, shuffled join
    otherwise — Catalyst/AQE decides from stats).  Jaccard is a ratio of
    small exact ints → bit-identical across engines.

    At 100 TB you run this only on LSH candidates (compose with
    ``lsh_candidate_pairs``); the full index join is the sf≤1 verify path.
    A hot shingle (stop-gram) would quadratically blow up the join — real
    deployments drop shingles above a document-frequency cap, which is a
    one-line filter on the index (``df_cap`` below).
    """
    sh = shingles(docs, n)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    join_side = sh
    if df_cap is not None:
        # Drop stop-grams from the JOIN side only: a shingle in > df_cap docs
        # contributes df² candidate pairs for near-zero Jaccard signal.
        # |A|,|B| (sizes) stay uncapped so reported Jaccard for surviving
        # pairs is a strict LOWER bound of the true value (intersection may
        # be undercounted, never overcounted) — the standard trade.
        hot = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > df_cap)
            .select("shingle")
        )
        join_side = sh.join(F.broadcast(hot), "shingle", "left_anti")
    a, b = join_side.alias("a"), join_side.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("intersection"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("size_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("size_b"))
    out = (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("intersection")
                / (F.col("size_a") + F.col("size_b") - F.col("intersection")),
                6,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= min_jaccard)
    )
    if k is not None:
        out = out.orderBy(
            F.col("jaccard").desc(), F.col("doc_a").asc(), F.col("doc_b").asc()
        ).limit(k)
    return out


# --- simhash ----------------------------------------------------------------

def _nibble(hex_col: Column, pos: int) -> Column:
    """Value 0-15 of the pos-th hex digit (0-based) — portable SQL arithmetic
    (instr on a hex alphabet), no hex-cast builtin required."""
    return F.instr(
        F.lit("0123456789abcdef"), F.substring(hex_col, pos + 1, 1)
    ) - 1


def simhash_fingerprints(docs: DataFrame, bits: int = 16) -> DataFrame:
    """Simhash over tokens: bit b of the fingerprint is the sign of
    Σ_tokens (±1 by bit b of md5(token)).

    Computed as ``bits`` conditional-sum aggregates in ONE groupBy over the
    exploded token table (token weight = occurrence count folds in for
    free).  Fingerprint = Σ bit_b · 2^b as a long.  Near-dup docs differ in
    few bits; exact-match grouping on the fingerprint is the scale-path
    dedup (split fingerprints into quarters + 4 self-joins for ≤3-bit
    hamming search — Manku'07 — composes from this table).
    """
    # Materialize md5(token) ONCE in a projection below the aggregate — the
    # 16 per-bit aggregate expressions each reference the same hash, and
    # inlining it would cost `bits` md5 evaluations per token (measured ~2×
    # slower end-to-end at sf0.1).
    toks = (
        fan_out(docs)
        .select("doc_id", F.explode(F.split(_norm_text(), " ")).alias("token"))
        .filter(F.col("token") != "")
        .select("doc_id", F.md5(F.col("token")).alias("h"))
    )
    h = F.col("h")
    bit_sums = []
    for b in range(bits):
        nib = _nibble(h, b // 4)
        bit = F.shiftright(nib, b % 4) % 2
        bit_sums.append(
            F.sum(F.when(bit == 1, 1).otherwise(-1)).alias(f"s{b}")
        )
    sums = toks.groupBy("doc_id").agg(*bit_sums)
    fp = None
    for b in range(bits):
        term = F.when(F.col(f"s{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        fp = term if fp is None else fp + term
    return sums.select("doc_id", fp.cast("long").alias("simhash"))


def simhash_near_dups(
    docs: DataFrame,
    bits: int = 16,
    max_hamming: int = 3,
    n_bands: int = 4,
) -> DataFrame:
    """Near-duplicate pairs by simhash Hamming distance ≤ ``max_hamming``
    (Manku et al., WWW'07 §3).

    Pigeonhole: split the ``bits``-bit fingerprint into ``n_bands`` bands;
    any pair within Hamming distance < n_bands must agree exactly on ≥1
    band.  Candidate generation is therefore a self-equi-join on
    (band_idx, band_value) — sub-quadratic, shuffle keyed on small ints —
    and the exact Hamming check ``bit_count(a XOR b)`` filters candidates.
    With the defaults (16 bits, 4 bands) recall is total for hamming ≤ 3.

    Output: (doc_a, doc_b, hamming), doc_a < doc_b, distinct.
    """
    band_bits = bits // n_bands
    mask = (1 << band_bits) - 1
    fp = simhash_fingerprints(docs, bits)
    bands = fp.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        F.shiftright(F.col("simhash"), b * band_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("band_val"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "simhash", "band.band_idx", "band.band_val")
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def simhash_dup_groups(docs: DataFrame, bits: int = 16) -> DataFrame:
    """Documents sharing a simhash fingerprint (near-dup clusters)."""
    return (
        simhash_fingerprints(docs, bits)
        .groupBy("simhash")
        .agg(F.min("doc_id").alias("kept_doc_id"), F.count(F.lit(1)).alias("dup_count"))
        .filter(F.col("dup_count") > 1)
    )


# --- duplicate-group resolution (connected components) ----------------------

#: Bound on the wait for an observed metric after its action has run.  The
#: metric normally lands with the action (first poll); the bound turns a
#: lost metric into one explicit count job instead of an endless wait.
_OBSERVATION_WAIT_S = 10.0


def _observed(obs: Observation, name: str, fallback: Callable[[], int]) -> int:
    """``obs.get[name]`` with a deadline.  ``Observation.get`` blocks with
    no timeout; each ``getRowOrEmpty`` poll waits at most 100 ms, so this
    loop ends at the deadline and returns ``fallback()`` — an explicit
    count over the same checkpointed rows — instead."""
    deadline = time.monotonic() + _OBSERVATION_WAIT_S
    while time.monotonic() < deadline:
        if obs._jo.getRowOrEmpty().isDefined():
            return obs.get[name]
    return fallback()


def _cc_min_label(edges: DataFrame, max_iter: int) -> DataFrame:
    """Min-label propagation over a SYMMETRIC edge list → (doc_id, group_id)
    for every edge-endpoint node.

    Each round every node takes ``min(own label, neighbors' labels)`` — one
    join + one aggregate, both shuffling on doc_id, both AQE-planned; state
    per round is one long per node.  Rounds needed = component DIAMETER:
    right for the shallow clusters near-dup graphs actually have (2-4
    rounds in practice), wrong for adversarial chains — that regime is
    :func:`_cc_star`'s O(log n) territory.
    """
    labels = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .select("doc_id", F.col("doc_id").alias("group_id"))
        .localCheckpoint()
    )
    for _ in range(max_iter):
        nbr_min = (
            edges.join(labels, edges["dst"] == labels["doc_id"])
            .groupBy("src")
            .agg(F.min("group_id").alias("nbr_min"))
        )
        # The convergence count rides the checkpoint job as an observed
        # metric (CollectMetrics accumulates during the materialization
        # action) instead of a separate count job per round — r16 profiled
        # the dedup trio at ~50% of wall in INTER-JOB gaps, so halving the
        # job count per round attacks exactly that, and the changed-count
        # value is identical (same rows, same flag).
        obs = Observation()
        stepped = (
            labels.join(nbr_min, labels["doc_id"] == nbr_min["src"], "left")
            .select(
                labels["doc_id"],
                F.least(
                    F.col("group_id"), F.coalesce(F.col("nbr_min"), F.col("group_id"))
                ).alias("group_id"),
                (
                    F.coalesce(F.col("nbr_min"), F.col("group_id"))
                    < F.col("group_id")
                ).alias("chg"),
            )
            .observe(obs, F.sum(F.col("chg").cast("long")).alias("changed"))
            .localCheckpoint()
        )
        changed = _observed(
            obs, "changed", lambda: stepped.filter("chg").count()
        ) or 0
        labels = stepped.drop("chg")
        # superseded generations: localCheckpoint blocks are reclaimed by
        # the ContextCleaner once the old DataFrame reference (reassigned
        # above) is garbage collected — storage stays O(2 generations)
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"_cc_min_label did not converge in max_iter={max_iter} rounds "
            "— the component diameter exceeds the budget; raise max_iter "
            'or use method="star" (O(log n) rounds).  Returning partial '
            "labels would silently split duplicate clusters."
        )
    return labels


def _cc_star(edges: DataFrame, max_iter: int) -> DataFrame:
    """Large-star/small-star connected components (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC '14) → (doc_id, group_id) for
    every edge-endpoint node.

    Converges in O(log n) ROUNDS INDEPENDENT OF DIAMETER — the scale path
    for deep components where min-label's diameter-many rounds would stall:

    * large-star: every node u computes m = min(Γ(u) ∪ {u}) over its
      symmetric neighborhood and re-points all STRICTLY LARGER neighbors
      at m — one aggregate + one join per round.
    * small-star: over larger→smaller directed edges, every node u
      re-points its smaller neighbors (and itself) at m = min(Γ⁻(u) ∪ {u}).

    Both operations preserve connectivity and monotonically shrink edge
    "heights"; the fixpoint is a star per component, centered on the
    component minimum.  Convergence is detected exactly (count equality +
    one-sided exceptAll emptiness on the deduped edge sets — both cheap on
    the checkpointed, already-shrinking edge state); a converged star set
    is idempotent under both operations, so a spurious extra round is a
    no-op, never a wrong answer.
    """
    # canonical larger→smaller direction, deduped.  Edge counts ride each
    # checkpoint job as observed metrics (same fuse as _cc_min_label): the
    # count-equality half of the convergence test then costs zero extra
    # jobs, and the exceptAll emptiness job only runs when counts match.
    obs0 = Observation()
    cur = (
        edges.filter(F.col("src") > F.col("dst"))
        .select("src", "dst")
        .distinct()
        .observe(obs0, F.count(F.lit(1)).alias("n"))
        .localCheckpoint()
    )
    cur_cnt = _observed(obs0, "n", cur.count)
    for _ in range(max_iter):
        # --- large-star: symmetric neighborhoods
        sym = cur.unionAll(
            cur.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        m = (
            sym.groupBy("src")
            .agg(F.min("dst").alias("_nbr_min"))
            .select(
                F.col("src").alias("u"),
                F.least(F.col("src"), F.col("_nbr_min")).alias("m"),
            )
        )
        large = (
            sym.join(m, sym["src"] == m["u"])
            .filter(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .filter(F.col("src") != F.col("dst"))
            .distinct()
        )
        # --- small-star: larger→smaller edges only (large's output already is)
        m2 = (
            large.groupBy("src")
            .agg(F.min("dst").alias("m"))
            .select(F.col("src").alias("u"), "m")
        )
        joined = large.join(m2, large["src"] == m2["u"])
        obs = Observation()
        nxt = (
            joined.select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .unionAll(joined.select(F.col("u").alias("src"), "m"))
            .filter(F.col("src") != F.col("dst"))
            .distinct()
            .observe(obs, F.count(F.lit(1)).alias("n"))
            .localCheckpoint()
        )
        nxt_cnt = _observed(obs, "n", nxt.count)
        if nxt_cnt == cur_cnt and nxt.exceptAll(cur).isEmpty():
            cur = nxt
            break
        cur, cur_cnt = nxt, nxt_cnt
    else:
        raise RuntimeError(
            f"_cc_star did not converge in max_iter={max_iter} rounds — "
            "raise max_iter.  An unconverged star set can emit a node as "
            "both center and satellite, duplicating doc_id rows downstream."
        )
    # fixpoint is a star per component: non-center nodes point at the
    # center (= component min); centers label themselves
    centers = cur.select(F.col("dst").alias("doc_id")).distinct()
    return (
        cur.select(F.col("src").alias("doc_id"), F.col("dst").alias("group_id"))
        .unionAll(centers.select("doc_id", F.col("doc_id").alias("group_id")))
        .distinct()
    )


#: candidate-edge count above which dup_groups switches from min-label to
#: large-star/small-star: big graphs risk deep components, and star's
#: O(log n) rounds beat diameter-many rounds there, while min-label's
#: 2-round convergence on small shallow graphs avoids star's extra
#: per-round exchanges.
STAR_EDGE_THRESHOLD = 100_000


def dup_groups(
    docs: DataFrame,
    num_hashes: int = 12,
    band_size: int = 2,
    n: int = 3,
    max_iter: int = 20,
    method: str = "auto",
) -> DataFrame:
    """Resolve LSH candidate pairs into duplicate GROUPS: connected
    components of the candidate graph, labeled by the component's minimum
    doc_id (the canonical "keep" document).

    Candidate pairs alone under-report duplication: A~B and B~C may pair
    while A~C misses a band, yet all three are one duplicate cluster.  The
    training-data dedup decision ("keep one per cluster") therefore needs
    components, not pairs.

    Two interchangeable kernels compute the same unique fixpoint (equality
    is pinned by tests; the DuckDB oracle replays it as a recursive
    transitive closure, so either kernel passes the same gate):

    * ``method="min_label"`` — :func:`_cc_min_label`, diameter-many rounds,
      cheapest on the shallow clusters near-dup graphs actually have;
    * ``method="star"`` — :func:`_cc_star`, the Kiveris et al.
      large-star/small-star alternation, O(log n) rounds regardless of
      diameter — the 100 TB path for graphs big enough to hide deep
      components;
    * ``method="auto"`` (default) — min-label below
      :data:`STAR_EDGE_THRESHOLD` candidate edges, star at/above it.  The
      edge count is a cheap aggregate over the already-persisted pair
      state, and the decision is logged in the plan via the chosen subtree.

    Returns one row per document: (doc_id, group_id, is_canonical) —
    singletons label themselves.
    """
    if method not in ("auto", "min_label", "star"):
        raise ValueError(f"unknown dup_groups method: {method!r}")

    # ONE materialization job for the whole LSH pipeline: checkpoint the
    # pair list itself (truncating the plan Catalyst would otherwise
    # re-analyze every CC round — analysis time soon dwarfs execution on
    # iterative loops) and ride the auto-method pair count on that same
    # job as an observed metric.  The old shape (persist → count job →
    # symmetrize-union checkpoint job → unpersist) spent two scheduled
    # jobs and a cache generation on the same information; the symmetric
    # edge view is now a lazy projection over the checkpointed pairs,
    # recomputed per CC round for the cost of a map over materialized
    # partitions.  (On a production cluster use a reliable checkpoint dir
    # for fault tolerance; the algorithm is unchanged.)
    pairs = lsh_candidate_pairs(docs, num_hashes, band_size, n)
    if method == "auto":
        obs = Observation()
        pairs = pairs.observe(obs, F.count(F.lit(1)).alias("n"))
    pairs = pairs.localCheckpoint()
    if method == "auto":
        n_pairs = _observed(obs, "n", pairs.count)
        method = "star" if n_pairs >= STAR_EDGE_THRESHOLD else "min_label"
    fwd = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    rev = pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    edges = fwd.unionAll(rev)

    # Iterate ONLY over edge-endpoint nodes: near-dup candidates are a small
    # fraction of any real corpus, so the propagation state is |candidate
    # docs| rows, not |corpus| rows — singletons join back once at the end.
    kernel = _cc_star if method == "star" else _cc_min_label
    resolved = kernel(edges, max_iter).withColumnRenamed("doc_id", "edge_doc_id")
    return (
        docs.select("doc_id")
        .join(resolved, docs["doc_id"] == resolved["edge_doc_id"], "left")
        .select(
            docs["doc_id"],
            F.coalesce("group_id", docs["doc_id"]).alias("group_id"),
            (F.coalesce("group_id", docs["doc_id"]) == docs["doc_id"]).alias(
                "is_canonical"
            ),
        )
    )


def dedup_survivors(
    docs: DataFrame,
    num_hashes: int = 12,
    band_size: int = 2,
    n: int = 3,
) -> DataFrame:
    """Quality-aware canonical selection: one survivor per near-dup group,
    chosen by highest :func:`~...text.quality_score` (ties → lowest doc_id)
    — the curation policy real pipelines use instead of keep-min ("of the k
    copies, keep the best-written one").

    Composes :func:`dup_groups` (minhash-LSH + connected components) with
    the quality scorer, then reduces each group in ONE map-side-combinable
    aggregate: ``max_by(doc_id, <packed (quality, -doc_id)>)`` — no window
    sort, no per-group row shuffle beyond the single groupBy exchange.
    The ordering key is ONE BIGINT, not a struct: quality sits on the 6dp
    grid (``quality_score`` rounds), so ``round(quality·10⁶)·2⁴² − doc_id``
    is exact and orders (quality DESC-equivalently max, then lowest
    doc_id) — a struct ordering key puts a non-mutable buffer in the
    aggregate and demotes the whole groupBy to SortAggregate, a
    per-partition sort of the (candidate-docs × quality) stream (round 12;
    2⁴² headroom covers doc_ids past 10¹², a NULL quality packs below
    every real score and ties exactly like the NULL-first struct did).
    """
    from stockpulse_batch_realtime_etl_spark.operators.text import (
        quality_score,
    )

    groups = dup_groups(docs, num_hashes, band_size, n).select(
        "doc_id", "group_id"
    )
    q = quality_score(docs).select("doc_id", "quality")
    j = groups.join(q, "doc_id")
    ordkey = (
        F.coalesce(
            F.round(F.col("quality") * F.lit(1_000_000.0), 0).cast("bigint"),
            F.lit(-1),
        )
        * F.lit(1 << 42)
        - F.when(
            F.col("doc_id") < F.lit(1 << 42), F.col("doc_id")
        ).otherwise(
            # a doc_id past the 42-bit limb would silently bleed into the
            # quality ordering — corpora with synthetic/hashed 64-bit ids
            # must fail LOUDLY, not misrank survivors
            F.raise_error(
                F.lit("doc_id exceeds the survivor ordering's 42-bit limb")
            )
        )
    )
    # project the key once: both max_by's reference the same column, so
    # the pack expression evaluates once per row instead of twice
    return j.withColumn("_ord", ordkey).groupBy("group_id").agg(
        F.max_by("doc_id", F.col("_ord")).alias("survivor_doc_id"),
        F.count(F.lit(1)).alias("group_size"),
        F.max_by("quality", F.col("_ord")).alias("survivor_quality"),
    )


def incremental_dedup(
    docs: DataFrame,
    split_id: int,
    num_hashes: int = 12,
    band_size: int = 2,
    n: int = 3,
) -> DataFrame:
    """Incremental (new-crawl-vs-base) dedup: flag every NEW document
    (``doc_id >= split_id``) that duplicates the already-ingested BASE
    corpus (``doc_id < split_id``) — the shape every recurring ingestion
    runs (dedupe each crawl against the accumulated corpus), distinct from
    the whole-corpus self-dedup rungs above.

    Per new doc: ``exact_dup`` (normalized-text fingerprint present in the
    base), ``near_dup`` (shares ≥1 minhash-LSH band bucket with ANY base
    doc), ``is_kept`` = neither.  Intra-crawl (new×new) duplication is the
    ordinary self-join rung's job and deliberately out of scope here.

    Scale shape: fingerprints and bands build over ONE pass of the whole
    corpus (same pipelines as :func:`exact_dedup` /
    :func:`lsh_candidate_pairs`), then split by the id predicate; the
    exact stage is a fingerprint hash join against the DISTINCT base
    fingerprint set, and the near stage joins new-side bands to base-side
    bands on (band_idx, band_hash) — candidate space is cross-side bucket
    matches only, never new×new, never all-pairs.  In production the base
    side's fingerprints/bands are a MATERIALIZED table maintained
    incrementally (append each accepted crawl), so each new crawl pays
    only its own signature pass plus the bucket join.
    """
    fps = doc_fingerprints(docs).select("doc_id", "fingerprint")
    new_fp = fps.filter(F.col("doc_id") >= split_id)
    base_fp = (
        fps.filter(F.col("doc_id") < split_id)
        .select(F.col("fingerprint").alias("_base_fp"))
        .distinct()
    )
    bands = lsh_bands(
        minhash_signatures(docs, num_hashes, n), num_hashes, band_size
    )
    near = (
        bands.filter(F.col("doc_id") >= split_id)
        .alias("nb")
        .join(
            bands.filter(F.col("doc_id") < split_id).alias("bb"),
            (F.col("nb.band_idx") == F.col("bb.band_idx"))
            & (F.col("nb.band_hash") == F.col("bb.band_hash")),
        )
        .select(F.col("nb.doc_id").alias("_near_id"))
        .distinct()
    )
    return (
        new_fp.join(
            base_fp, new_fp["fingerprint"] == base_fp["_base_fp"], "left"
        )
        .join(near, new_fp["doc_id"] == near["_near_id"], "left")
        .select(
            "doc_id",
            F.col("_base_fp").isNotNull().alias("exact_dup"),
            F.col("_near_id").isNotNull().alias("near_dup"),
            (F.col("_base_fp").isNull() & F.col("_near_id").isNull()).alias(
                "is_kept"
            ),
        )
    )


def minhash_jaccard_estimate(
    docs: DataFrame, num_hashes: int = 12, band_size: int = 2, n: int = 3
) -> DataFrame:
    """Accuracy report for the MinHash sketch itself: for every LSH
    candidate pair, the ESTIMATED Jaccard (fraction of the k signature
    slots that agree — the Broder estimator the sketch is built on) next
    to the EXACT shingle Jaccard, with the absolute error.

    This is the dedup twin of ``ann_recall_report``: it turns "k=12
    minhashes approximate Jaccard" from prose into a measured number the
    gate hash-checks.  Standard error of the estimator is √(J(1−J)/k)
    (~0.14 at J=0.5, k=12) — the per-pair errors should sit inside a few
    multiples of that.

    Plan: signatures computed ONCE (lazily localCheckpoint'd) feed both
    the band bucket join (the sub-quadratic candidate generator, via the
    shared :func:`_band_candidates` kernel) and the estimator columns;
    the exact-intersection self-join runs over the shingles of CANDIDATE
    documents only (semi-join restriction — never the corpus-wide
    inverted index).  All ratios are exact-int divisions + 6dp rounds —
    engine-portable.
    """
    # signatures genuinely computed once: the lazy localCheckpoint cuts the
    # shingle→minhash subtree out of the four downstream plan references
    # (both band-join sides + both estimator sides)
    sigs = minhash_signatures(docs, num_hashes, n).localCheckpoint(eager=False)
    cands = _band_candidates(lsh_bands(sigs, num_hashes, band_size))
    sa = sigs.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"mh{i}").alias(f"a{i}") for i in range(num_hashes)],
    )
    sb = sigs.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"mh{i}").alias(f"b{i}") for i in range(num_hashes)],
    )
    agree = sum(
        (F.col(f"a{i}") == F.col(f"b{i}")).cast("int") for i in range(num_hashes)
    )
    est = cands.join(sa, "doc_a").join(sb, "doc_b").select(
        "doc_a",
        "doc_b",
        F.round(agree / F.lit(float(num_hashes)), 6).alias("est_jaccard"),
    )
    sh = shingles(docs, n)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    # restrict the exact-intersection self-join to CANDIDATE documents
    # before it runs: without the semi-joins, one hot shingle in d docs
    # forces O(d²) join output corpus-wide (the blow-up jaccard_pairs'
    # df_cap exists to avoid) even though only candidate pairs survive
    # the later join.  Candidate docs are the near-dup population — a
    # small fraction of any real corpus.
    cand_ids = (
        cands.select(F.col("doc_a").alias("doc_id"))
        .unionAll(cands.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    sh_cand = sh.join(cand_ids, "doc_id", "left_semi")
    x, y = sh_cand.alias("x"), sh_cand.alias("y")
    inter = (
        x.join(
            y,
            (F.col("x.shingle") == F.col("y.shingle"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .groupBy(
            F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("intersection"))
    )
    za = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("size_a"))
    zb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("size_b"))
    # LEFT join + coalesce(intersection, 0): an LSH candidate pair with zero
    # shared shingles must report exact_jaccard = 0, not vanish from the
    # report.  With md5 band hashes, band equality structurally implies a
    # shared shingle, so the branch is latent today — but the report must
    # not silently depend on the band-hash scheme.
    n_inter = F.coalesce(F.col("intersection"), F.lit(0))
    exact = (
        est.join(inter, ["doc_a", "doc_b"], "left")
        .join(za, "doc_a")
        .join(zb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "est_jaccard",
            F.round(
                n_inter / (F.col("size_a") + F.col("size_b") - n_inter),
                6,
            ).alias("exact_jaccard"),
        )
    )
    return exact.select(
        "doc_a",
        "doc_b",
        "est_jaccard",
        "exact_jaccard",
        F.round(F.abs(F.col("est_jaccard") - F.col("exact_jaccard")), 6).alias(
            "abs_err"
        ),
    ).orderBy("doc_a", "doc_b")
