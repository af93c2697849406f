"""Recall/precision verification for the hash-defined (non-oracle)
dedup and ANN operators, against exact brute-force ground truth.

These back the claims made in operators/dedup.py and
operators/similarity.py docstrings: simhash and hyperplane-LSH outputs
are xxhash64-defined and can't be DuckDB-oracle-gated, so their quality
is pinned here instead. Thresholds are set from measured behavior on
the driver corpus minus a safety margin — they are regression tripwires,
not aspirations.

Corpus notes (sf0.001): documents carry planted near-dups at
jaccard ≈ 0.99; embeddings have NO planted clusters (exact top-10
neighbors sit at cos ≈ 0.3, random-level), so ANN recall is
structurally limited there — IVF with nprobe/centroids = 1/4 of the
corpus measures ≈ 0.9, multi-table hyperplane LSH ≈ 0.2.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from logsdb_spark.catalog import load_table
from logsdb_spark.operators.dedup import (
    brute_force_near_dups,
    minhash_near_dups,
    simhash_near_dups,
)
from logsdb_spark.operators.similarity import (
    brute_force_topk,
    ivf_ann_topk,
    lsh_ann_topk,
)

from conftest import SF_DIR, SF_DIR_MED


def _probes(emb):
    return emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_vec")
    )


def test_minhash_lsh_equals_bruteforce(spark):
    """LSH near-dup output must be EXACTLY the brute-force ground truth
    at threshold 0.6 (recall ≈ 1 at the planted similarity levels; the
    exact-jaccard verify removes all collision noise)."""
    docs = load_table(spark, SF_DIR, "documents")
    got = {(r.id_a, r.id_b, r.jac) for r in minhash_near_dups(docs, threshold=0.6).collect()}
    want = {
        (r.id_a, r.id_b, r.jac)
        for r in brute_force_near_dups(docs, threshold=0.6).collect()
    }
    assert want, "corpus should contain planted near-dups"
    assert got == want


def test_simhash_recall_and_precision(spark):
    """SimHash (hamming ≤ 3) against the jaccard ≥ 0.9 planted dups:
    measured recall 0.75 / precision 0.78 on this corpus — assert with
    margin. SimHash trades exactness for a 64-bit fingerprint; pairs it
    reports must still be mostly true near-dups."""
    docs = load_table(spark, SF_DIR, "documents")
    truth = {
        (r.id_a, r.id_b) for r in brute_force_near_dups(docs, threshold=0.9).collect()
    }
    got = {(r.id_a, r.id_b) for r in simhash_near_dups(docs).collect()}
    assert truth
    assert len(truth & got) / len(truth) >= 0.6, "simhash recall regressed"
    assert got, "simhash found nothing"
    loose_truth = {
        (r.id_a, r.id_b) for r in brute_force_near_dups(docs, threshold=0.5).collect()
    }
    assert len(got & loose_truth) / len(got) >= 0.6, "simhash precision regressed"


def test_lsh_ann_scores_exact_and_self_hit(spark):
    """Every (probe, neighbor) the LSH ANN reports must carry the exact
    cosine score (scores are never approximated — only the candidate
    set is), and each probe must find itself at rank 1 (identical
    vectors always share every bucket)."""
    emb = load_table(spark, SF_DIR, "embeddings")
    probes = _probes(emb)
    exact_all = {
        (r.probe_id, r.neighbor_id): r.cos_sim
        for r in brute_force_topk(emb, probes, k=500).collect()
    }
    approx = lsh_ann_topk(emb, probes, k=10).collect()
    assert approx
    for r in approx:
        assert exact_all[(r.probe_id, r.neighbor_id)] == r.cos_sim
    top1 = {r.probe_id: r.neighbor_id for r in approx if r.rank == 1}
    assert all(top1.get(p) == p for p in range(5))


def test_lsh_ann_recall_floor(spark):
    """Multi-table LSH recall@10 on this structure-free corpus measures
    ≈ 0.2 (single-table was 0.12). Floor at 0.1 as a regression check."""
    emb = load_table(spark, SF_DIR, "embeddings")
    probes = _probes(emb)
    ex = {(r.probe_id, r.neighbor_id) for r in brute_force_topk(emb, probes, k=10).collect()}
    ap = {(r.probe_id, r.neighbor_id) for r in lsh_ann_topk(emb, probes, k=10).collect()}
    assert len(ap & ex) / len(ex) >= 0.1


def test_ivf_ann_recall(spark):
    """IVF (16 cells, nprobe=4) measured recall@10 ≈ 0.92 here; floor
    at 0.75. Also oracle-gated end-to-end via the ann_ivf query."""
    emb = load_table(spark, SF_DIR, "embeddings")
    probes = _probes(emb)
    ex = {(r.probe_id, r.neighbor_id) for r in brute_force_topk(emb, probes, k=10).collect()}
    ap = {(r.probe_id, r.neighbor_id) for r in ivf_ann_topk(emb, probes, k=10).collect()}
    assert len(ap & ex) / len(ex) >= 0.75


def test_ivf_kmeans_recall_floor(spark):
    """Fitted Lloyd codebook (kmeans_centroids, 2 rounds on the
    vec_id%2 sample) recall@10 — WITH multi-assignment m=2, the
    configuration ann_ivf_kmeans ships. Single-assign fitted measured
    0.72-0.80 vs 0.92 for the first-16-by-id stand-in on this
    near-isotropic corpus: a balanced k-means partition slices each
    probe's neighborhood thinner, so the lost neighbors sit just
    across a cell boundary. Indexing every corpus vector under its
    top-2 cells recovers exactly those: measured m=2 recall 0.92 at
    sf0.01 (TIES the stand-in exactly; sf0.001 is one neighbor shy at
    0.90). The >=-stand-in comparison is pinned at sf0.01 — the scale
    the registered ann_ivf_kmeans query is oracle-gated at — with an
    absolute floor on the default SF_DIR corpus."""
    from logsdb_spark.operators.similarity import kmeans_centroids

    # absolute floor on the default tiny corpus
    emb = load_table(spark, SF_DIR, "embeddings")
    probes = _probes(emb)
    ex = {(r.probe_id, r.neighbor_id) for r in brute_force_topk(emb, probes, k=10).collect()}
    cents = kmeans_centroids(emb, k=16, iters=2, sample_mod=2)
    fitted = {
        (r.probe_id, r.neighbor_id)
        for r in ivf_ann_topk(emb, probes, k=10, centroids=cents, assign_m=2,
                              coarse_probe=2).collect()
    }
    r_fit = len(fitted & ex) / len(ex)
    assert r_fit >= 0.88, f"kmeans IVF m=2 recall {r_fit}"

    # fitted >= stand-in at the driver-gated scale
    emb01 = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    probes01 = _probes(emb01)
    ex01 = {
        (r.probe_id, r.neighbor_id)
        for r in brute_force_topk(emb01, probes01, k=10).collect()
    }
    cents01 = kmeans_centroids(emb01, k=16, iters=2, sample_mod=2)
    fit01 = {
        (r.probe_id, r.neighbor_id)
        for r in ivf_ann_topk(
            emb01, probes01, k=10, centroids=cents01, assign_m=2,
            coarse_probe=2
        ).collect()
    }
    std01 = {
        (r.probe_id, r.neighbor_id)
        for r in ivf_ann_topk(emb01, probes01, k=10).collect()
    }
    r_fit01 = len(fit01 & ex01) / len(ex01)
    r_std01 = len(std01 & ex01) / len(ex01)
    assert r_fit01 >= r_std01, f"fitted {r_fit01} < stand-in {r_std01} at sf0.01"


def test_kmeans_centroids_lazy_and_deterministic(spark):
    """The Lloyd fit must run NO job at build time (lazy-build
    contract) and produce identical centroids across rebuilds."""
    from logsdb_spark.operators.similarity import kmeans_centroids

    emb = load_table(spark, SF_DIR, "embeddings")
    tracker = spark.sparkContext.statusTracker()
    before = tracker.getJobIdsForGroup(None)
    cents = kmeans_centroids(emb, k=8, iters=1)
    after = tracker.getJobIdsForGroup(None)
    assert len(after) == len(before), "kmeans build ran a Spark job"
    a = sorted(map(tuple, (r.cent_vec for r in cents.collect())))
    b = sorted(map(tuple, (r.cent_vec for r in kmeans_centroids(emb, k=8, iters=1).collect())))
    assert a == b


def test_ngram_lsh_equals_bruteforce(spark):
    """The char-ngram LSH path must reproduce the O(n²) ground truth
    exactly on this corpus: the 16×8 band shape's S-curve knee sits in
    the empty (0.74, 0.92) gap, so per-pair recall is 1-2.6e-6 and the
    exact verify removes every false candidate."""
    from logsdb_spark.operators.dedup import (
        char_ngram_near_dups,
        char_ngram_near_dups_lsh,
    )

    docs = load_table(spark, SF_DIR, "documents")
    want = {
        (r.id_a, r.id_b, r.jac)
        for r in char_ngram_near_dups(docs, n=3, threshold=0.8).collect()
    }
    got = {
        (r.id_a, r.id_b, r.jac)
        for r in char_ngram_near_dups_lsh(docs, n=3, threshold=0.8).collect()
    }
    assert want, "corpus should contain planted char-ngram near-dups"
    assert got == want


def test_ivf_cell_dedup_recall_and_exactness(spark):
    """IVF-cell-blocked embedding dedup: every reported pair must carry
    the exact cosine and be present in the brute-force ground truth
    (precision 1 — verify is exact); recall vs ground truth measured
    0.61 at sf0.001 (cos 0.4 pairs are background-similarity, not
    plantable dups — see ivf_cell_near_dups docstring); floor 0.4."""
    from logsdb_spark.operators.similarity import (
        ivf_cell_near_dups,
        pairwise_cosine_dedup,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    truth = {
        (r.id_a, r.id_b): r.cos_sim
        for r in pairwise_cosine_dedup(emb, threshold=0.4).collect()
    }
    got = {
        (r.id_a, r.id_b): r.cos_sim
        for r in ivf_cell_near_dups(emb, threshold=0.4).collect()
    }
    assert truth
    assert got, "IVF blocking found nothing"
    for pair, cs in got.items():
        assert truth.get(pair) == cs, f"{pair}: not exact vs ground truth"
    assert len(got) / len(truth) >= 0.4, "IVF cell recall regressed"


def test_scale_dedup_plans_have_no_quadratic_join(spark):
    """The registered scale-path dedup queries must not contain a
    cartesian product or (broadcast) nested-loop join on the corpus —
    the whole point vs their brute-force baselines."""
    from logsdb_spark.plans.extensions import dedup_embedding_ann, dedup_ngram_lsh

    for fn in (dedup_ngram_lsh, dedup_embedding_ann):
        plan = (
            fn(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
        )
        assert "CartesianProduct" not in plan, f"{fn.__name__}: {plan}"
        # A conditionless BroadcastNestedLoopJoin is the 1-row centroid
        # broadcast (corpus × 1 = corpus — linear, intended), and a
        # condition referencing an engineered underscore-prefixed 1-row
        # column (_ncents, _cents, _anchor) is Catalyst pushing a filter
        # into that same anchor join — same rule as the repo-wide audit
        # (tests/test_plan_audit.py). The O(n²) signature is a nested
        # loop conditioned on REAL columns only (id_a < id_b), which
        # must never appear on the scale path.
        import re

        for line in plan.splitlines():
            if "BroadcastNestedLoopJoin" in line:
                bare = line.rstrip().endswith("Inner")
                cond = line.split(",", 2)[2] if line.count(",") >= 2 else ""
                anchored = re.search(r"(?<![\w])_\w+#", cond)
                assert bare or anchored, (
                    f"{fn.__name__}: conditional nested-loop join\n{line}"
                )


def test_connected_components_chain_and_cliques(spark):
    """Min-label propagation must traverse chains (diameter > 1), merge
    cliques, and keep disjoint components apart."""
    from logsdb_spark.operators.dedup import connected_components

    # chain 1-2-3-4 (diameter 3), triangle 10-11-12, isolated pair 20-21
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        "id_a long, id_b long",
    )
    got = {
        r.doc_id: r.cluster for r in connected_components(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_connected_components_action_count_pinned(spark):
    """Round 8: each CC round must cost exactly ONE action (the
    convergence sum rides the propagation job via Observation), the
    edges materialize once, and clique graphs converge in a single
    confirm round off the closed-neighborhood init. Pinned as a job
    budget for a two-clique fixture: 3 checkpoint actions (edges +
    init + 1 round) + 2 broadcast builds in the round + 1 AQE stage
    job in the edge phase = 6. The r7 form (self-label init, separate
    .agg().first() convergence action per round, pre-union pair
    checkpoint) spent >= 10 on the same input."""
    from logsdb_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12), (10, 12)],
        "id_a long, id_b long",
    )
    connected_components(pairs).collect()  # warm: JIT/broadcast machinery
    sc = spark.sparkContext
    group = "cc-action-pin"
    sc.setJobGroup(group, "pin CC per-round action count")
    try:
        comp = connected_components(pairs)
    finally:
        sc.setJobGroup("cc-action-pin-done", "")
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) <= 6, f"CC spent {len(jobs)} jobs on a clique fixture"
    got = {r.doc_id: r.cluster for r in comp.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10}


def test_lsh_bucket_cap_guard(spark):
    """max_bucket sparsifies oversized buckets to star edges (the
    boilerplate-corpus guard, round 7: STAR, not drop) without
    touching small-bucket candidates: capping at the corpus size
    changes nothing; capping at 1 turns every bucket into its star
    set — a nonempty SUBSET of the uncapped pairs in which every
    edge is anchored at a bucket minimum."""
    from logsdb_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
        shingle_sets,
    )

    docs = load_table(spark, SF_DIR, "documents")
    signed = minhash_signatures(shingle_sets(docs)).persist()
    uncapped = {
        (r.id_a, r.id_b) for r in lsh_candidate_pairs(signed).collect()
    }
    big_cap = {
        (r.id_a, r.id_b)
        for r in lsh_candidate_pairs(signed, max_bucket=10**6).collect()
    }
    assert big_cap == uncapped and uncapped
    starred = {
        (r.id_a, r.id_b)
        for r in lsh_candidate_pairs(signed, max_bucket=1).collect()
    }
    assert starred and starred <= uncapped


def test_incremental_dedup_no_corpus_shuffle(spark):
    """The asymmetric ingest-dedup plan must broadcast the new-batch
    side: no Exchange may sit between the corpus documents scan and
    the candidate join (the corpus is probed map-side, not shuffled)."""
    from logsdb_spark.plans.extensions import dedup_incremental_batch

    plan = (
        dedup_incremental_batch(spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin [band_idx" in plan or (
        "BroadcastHashJoin" in plan and "band_hash" in plan
    ), plan


def test_containment_catches_truncation_dups(spark):
    """A truncated copy (doc = prefix of a longer doc) has LOW jaccard
    (small/union) but containment ≈ 1 — the case the prefix-filter
    containment path exists for. Verify it surfaces the pair the
    jaccard pipeline (same 0.8 threshold) misses, with exact-recall
    blocking (output equals brute-force containment)."""
    from logsdb_spark.operators.dedup import (
        containment_near_dups,
        minhash_near_dups,
    )

    words = [f"tok{i}xq" for i in range(90)]
    full = " ".join(words)
    prefix_doc = " ".join(words[:60])
    distractor = " ".join(f"other{i}zz" for i in range(70))
    docs = spark.createDataFrame(
        [(1, prefix_doc), (2, full), (3, distractor)],
        "doc_id long, text string",
    )
    got = {(r.id_a, r.id_b): (r.c_ab, r.c_ba)
           for r in containment_near_dups(docs, threshold=0.8).collect()}
    assert (1, 2) in got, f"truncation pair missed: {got}"
    c_ab, c_ba = got[(1, 2)]
    assert c_ab == 1.0 and c_ba < 0.8, (c_ab, c_ba)
    assert len(got) == 1, f"false positives: {got}"
    jac = {(r.id_a, r.id_b)
           for r in minhash_near_dups(docs, threshold=0.8).collect()}
    assert (1, 2) not in jac, "jaccard at 0.8 shouldn't see the truncation pair"


def test_containment_exact_threshold_boundary(spark):
    """Regression: a pair sitting EXACTLY at the containment threshold
    (c_ab = 4/5 = 0.8) whose one non-shared shingle is each side's
    rarest. The float form of the prefix bound (floor((1-t)|A|)+1 with
    1-t = 0.19999…96) computed a 1-shingle prefix for |A|=5 — exactly
    the non-shared shingle — and dropped the pair; the exact rational
    bound keeps the pigeonhole guarantee."""
    from logsdb_spark.operators.dedup import containment_near_dups

    # A: 7 tokens -> 5 trigrams T1..T5; B shares T1..T4 (prefix of A's
    # text) and then diverges into tokens unique to B, so A's rarest
    # trigram is its unshared T5 and B's rarest are its unique tail.
    a_words = ["alpha", "beta", "gamma", "delta", "epsi", "zeta", "AONLY"]
    b_words = a_words[:6] + [f"bonly{i}" for i in range(12)]
    docs = spark.createDataFrame(
        [(1, " ".join(a_words)), (2, " ".join(b_words))],
        "doc_id long, text string",
    )
    got = {(r.id_a, r.id_b): r.c_ab
           for r in containment_near_dups(docs, threshold=0.8).collect()}
    assert got == {(1, 2): 0.8}, got


def test_ivf_quantized_matches_exact_topk(spark):
    """The int8-quantized IVF path must return EXACTLY the unquantized
    ivf_ann_topk output at the registered parameters: the 30-candidate
    approx pool has to recover the true top-10 (quantization error on
    64-dim vectors is far smaller than the cosine gaps at these
    ranks), and the exact-cosine rerank then orders them identically."""
    from logsdb_spark.operators.similarity import (
        ivf_ann_topk,
        ivf_ann_topk_quantized,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    probes = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("probe_id"),
        F.col("embedding").alias("probe_vec"),
    )
    exact = [
        tuple(r)
        for r in ivf_ann_topk(emb, probes, k=10, n_centroids=16, nprobe=4)
        .orderBy("probe_id", "rank")
        .collect()
    ]
    quant = [
        tuple(r)
        for r in ivf_ann_topk_quantized(
            emb, probes, k=10, n_centroids=16, nprobe=4
        )
        .orderBy("probe_id", "rank")
        .collect()
    ]
    assert quant == exact and len(exact) == 50


@pytest.mark.parametrize(
    "corpus_dir, margin_num",
    [(SF_DIR_MED, 1), ("/root/testdata/sf0.1", 3)],
    ids=["sf0.01", "sf0.1"],
)
def test_default_bucket_cap_does_not_bind_on_gated_corpus(
    spark, corpus_dir, margin_num
):
    """DEFAULT_MAX_BUCKET must hold a wide margin over the largest
    bucket any routed LSH/blocking dedup produces on the oracle-gated
    corpora — that margin is WHY the capped defaults stay hash-identical
    to their brute-force SQL oracles (DuckDB cannot reproduce the
    xxhash64 banding, so the no-bind margin is the mirrored
    guarantee). Early warning at cap/4: a fixture regen that grows
    dup groups toward the cap fails here long before parity breaks.
    Parameterized over BOTH fixture scales the oracles gate at
    (driver sf0.01, bench/local-parity sf0.1 — round-8 ADVICE): the
    sf0.1 corpus is where the word-band max was previously only
    claimed in a comment. The margin differs by scale: cap/4 at
    sf0.01, 3·cap/4 at sf0.1 — the measured sf0.1 char-shingle max
    bucket is 302 (59% of the 512 cap), so the guarantee pinned there
    is strict no-bind with headroom, tripping before parity can
    break."""
    from pyspark.sql import functions as F

    from logsdb_spark.operators.dedup import (
        DEFAULT_MAX_BUCKET,
        N_BANDS,
        N_BANDS_CHAR,
        N_PERM_CHAR,
        ROWS_PER_BAND,
        ROWS_PER_BAND_CHAR,
        hashed_char_shingles,
        minhash_signatures,
        shingle_sets,
        simhash64,
    )

    from logsdb_spark.operators.scale import widen_for_compute

    # widen: the 128-perm char minhash is CPU-bound and the small-SF
    # scan is one split — serialized it costs ~3 min, widened ~30 s
    docs = widen_for_compute(
        load_table(spark, corpus_dir, "documents"), spark
    )

    def max_band_bucket(signed, n_bands, rows_per_band):
        bands = F.transform(
            F.sequence(F.lit(0), F.lit(n_bands - 1)),
            lambda b: F.struct(
                b.alias("band_idx"),
                F.xxhash64(
                    F.slice(F.col("sig"), b * rows_per_band + 1,
                            F.lit(rows_per_band))
                ).alias("band_hash"),
            ),
        )
        return (
            signed.select(F.explode(bands).alias("b"))
            .groupBy("b.band_idx", "b.band_hash")
            .count()
            .agg(F.max("count"))
            .first()[0]
        )

    word = max_band_bucket(
        minhash_signatures(shingle_sets(docs)), N_BANDS, ROWS_PER_BAND
    )
    char = max_band_bucket(
        minhash_signatures(hashed_char_shingles(docs), n_perm=N_PERM_CHAR),
        N_BANDS_CHAR,
        ROWS_PER_BAND_CHAR,
    )
    chunk = (
        simhash64(docs)
        .select(
            F.explode(
                F.array(*[
                    F.shiftrightunsigned("simhash", c * 16)
                    .bitwiseAND(F.lit(0xFFFF))
                    for c in range(4)
                ])
            ).alias("v")
        )
        .groupBy("v")
        .count()
        .agg(F.max("count"))
        .first()[0]
    )
    limit = DEFAULT_MAX_BUCKET * margin_num // 4
    for label, mx in (("word", word), ("char", char), ("simhash", chunk)):
        assert mx <= limit, (
            f"{label} max bucket {mx} exceeds the {limit} margin under "
            f"the {DEFAULT_MAX_BUCKET} cap — re-examine before parity breaks"
        )


def test_oversized_bucket_emits_star_edges_and_keeps_groups(spark):
    """Pathological-corpus guard: one boilerplate value capturing a
    bucket of k docs must cost k-1 star edges, not k²/2 pairs — and
    the star edges must keep the GROUP-level dedup decision intact
    (one connected component, same keep id) with full recall on
    planted distinct twins."""
    from pyspark.sql import functions as F

    from logsdb_spark.operators.dedup import (
        connected_components,
        lsh_candidate_pairs,
        minhash_near_dups,
        minhash_signatures,
        shingle_sets,
        simhash_near_dups,
    )

    k = 60  # the giant exact-dup group (cap set far below it)
    rows = [(i, "identical boilerplate page body repeated verbatim "
                "across the whole crawl segment") for i in range(k)]
    rows += [
        (100, "alpha beta gamma delta epsilon zeta eta theta"),
        (101, "alpha beta gamma delta epsilon zeta eta iota"),
        (200, "one two three four five six seven eight nine ten"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    signed = minhash_signatures(shingle_sets(docs))
    capped = lsh_candidate_pairs(signed, max_bucket=16)
    cand = capped.collect()
    # giant group: k-1 star pairs (identical sigs → same bucket per
    # band → identical star sets, folded by distinct); twins: 1 pair
    giant = [r for r in cand if r.id_a < k and r.id_b < k]
    assert len(giant) == k - 1, len(giant)
    assert all(r.id_a == 0 for r in giant)
    assert any({r.id_a, r.id_b} == {100, 101} for r in cand)
    # no quadratic emission anywhere
    assert len(cand) < 2 * k

    # group-level decision parity: CC over capped verified pairs ==
    # one component with keep id 0, twins in their own component
    verified = minhash_near_dups(docs, threshold=0.6, max_bucket=16)
    cc = {
        r.doc_id: r.cluster
        for r in connected_components(verified).collect()
    }
    assert {cc[i] for i in range(k)} == {0}
    assert cc[100] == cc[101] == 100
    assert 200 not in cc  # unique doc pairs with nothing

    # simhash analogue: identical docs share all chunks; capped run
    # keeps the group connected through the anchor
    sh_pairs = simhash_near_dups(docs, max_bucket=16).collect()
    sh_giant = [r for r in sh_pairs if r.id_a < k and r.id_b < k]
    assert len(sh_giant) == k - 1
    assert all(r.id_a == 0 for r in sh_giant)


def test_pq_adc_recall_floor(spark):
    """PQ/ADC (m=8 8-dim subspaces, ks=16, rerank=64) recall@10 vs
    exact measures 0.9 at sf0.01 on this near-isotropic corpus — the
    documented worst case for coarse product quantizers. Floor at 0.7
    as a regression check (mirrored by the oracle-gated
    gate_ann_pq_recall)."""
    from logsdb_spark.operators.similarity import pq_adc_topk

    emb = load_table(spark, SF_DIR_MED, "embeddings")
    probes = _probes(emb)
    ex = {(r.probe_id, r.neighbor_id)
          for r in brute_force_topk(emb, probes, k=10).collect()}
    ap = {(r.probe_id, r.neighbor_id)
          for r in pq_adc_topk(emb, probes, k=10).collect()}
    assert len(ap & ex) / len(ex) >= 0.7


def test_pq_layouts_match_lazy_derivation(spark):
    """The materialized PQ layouts are exactly the lazy fits' output:
    codebooks row-for-row, codes row-for-row — the contract that lets
    ann_pq_adc share ann_pq_adc_lazy's oracle."""
    from logsdb_spark.operators.silver import (
        pq_code_layout,
        pq_codebook_layout,
    )
    from logsdb_spark.operators.similarity import pq_codebooks, pq_codes

    emb = load_table(spark, SF_DIR, "embeddings")

    def rows(df):
        return sorted(
            tuple(tuple(v) if isinstance(v, list) else v for v in r)
            for r in df.collect()
        )

    lazy_cb = pq_codebooks(emb)
    assert rows(pq_codebook_layout(spark, SF_DIR)) == rows(lazy_cb)
    assert rows(pq_code_layout(spark, SF_DIR)) == rows(
        pq_codes(emb, lazy_cb)
    )


def test_ivf_pq_recall_floor(spark):
    """IVF+PQ composed (nprobe=4/16 cells over m=8 ks=16 codes,
    rerank=64) recall@10 vs exact measures 0.92 at sf0.01 — at/above
    the plain-PQ 0.9 despite scanning only the probed cells (the
    pruned candidate pool is denser in true neighbors). Floor at 0.7,
    the same pinned floor as test_pq_adc_recall_floor per the r10 ask
    (mirrored by the oracle-gated gate_ann_ivf_pq_recall)."""
    from logsdb_spark.operators.similarity import ivf_pq_adc_topk

    emb = load_table(spark, SF_DIR_MED, "embeddings")
    probes = _probes(emb)
    ex = {(r.probe_id, r.neighbor_id)
          for r in brute_force_topk(emb, probes, k=10).collect()}
    ap = {(r.probe_id, r.neighbor_id)
          for r in ivf_pq_adc_topk(emb, probes, k=10).collect()}
    assert len(ap & ex) / len(ex) >= 0.7


def test_ivf_pq_layout_matches_lazy_derivation(spark):
    """The composed (vec_id, cell, codes, nrm) layout is exactly the
    in-plan derivation's output — the contract that lets ann_ivf_pq
    share ann_ivf_pq_lazy's oracle."""
    import pyspark.sql.functions as F

    from logsdb_spark.operators.silver import ivf_pq_layout
    from logsdb_spark.operators.similarity import (
        _with_norm,
        ivf_assign_with_model,
        pq_codebooks,
        pq_codes,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    cents = _with_norm(
        emb.filter(F.col("vec_id") < 16).select(
            F.col("vec_id").alias("cent_id"),
            F.col("embedding").alias("cent_vec"),
        ), "cent_vec", "cnrm",
    )
    # round 13: the layout's cell is the TWO-LEVEL assignment
    assign = ivf_assign_with_model(
        emb, cents, n_assign=1, coarse_probe=2
    ).select("vec_id", "cell")
    lazy = (
        pq_codes(emb, pq_codebooks(emb))
        .join(assign, "vec_id")
        .select("vec_id", "cell", "codes", "nrm")
    )
    stored = ivf_pq_layout(spark, SF_DIR)

    def rows(df):
        return sorted(
            (r.vec_id, r.cell, tuple(r.codes), r.nrm)
            for r in df.collect()
        )

    assert rows(stored) == rows(lazy)


def test_winnow_edge_delta_handles_cap_retraction(spark):
    """The non-monotone case incremental edge maintenance exists for:
    a shard that pushes a fingerprint bucket past the 32-doc hub cap
    must RETRACT the pairs that bucket was contributing — a naive
    union-of-new-pairs keeps them. Built directly on the exploded
    (doc_id, fp) index form; parity target is a fresh full
    computation over corpus ∪ shard."""
    from logsdb_spark.operators.dedup import (
        winnow_edge_counts,
        winnow_edges_apply_delta,
        winnow_pairs_from_counts,
    )

    # fp=100: 32 docs share it twice-over via fp=101 too (so pairs
    # have n=2 and survive the >=2 filter). fp=200: a stable pair
    # (docs 1,2 also share 200/201) that must be untouched.
    old_rows = []
    for d in range(1, 33):
        old_rows += [(d, 100), (d, 101)]
    old_rows += [(1, 200), (2, 200), (1, 201), (2, 201)]
    old_ex = spark.createDataFrame(old_rows, "doc_id long, fp long")
    # the shard: doc 1000 lands fp=100 (bucket 100 goes 32 -> 33,
    # over the cap) and fp=300 (untouched elsewhere, bucket of 1)
    new_ex = spark.createDataFrame([(1000, 100), (1000, 300)],
                                   "doc_id long, fp long")

    stored = winnow_edge_counts(old_ex)
    updated = winnow_pairs_from_counts(
        winnow_edges_apply_delta(stored, old_ex, new_ex)
    )
    got = {(r.id_a, r.id_b, r.n_shared_fps) for r in updated.collect()}
    full = {
        (r.id_a, r.id_b, r.n_shared_fps)
        for r in winnow_pairs_from_counts(
            winnow_edge_counts(old_ex.unionByName(new_ex))
        ).collect()
    }
    assert got == full
    # bucket 100's contribution retracted: every (d, d') pair that
    # relied on fps {100, 101} dropped to n=1 and fails the >=2
    # decision — the naive union would keep all C(32,2) of them.
    # Docs 1,2 survive on {101, 200, 201} = 3 shared.
    assert not any(p[0] != 1 or p[1] != 2 for p in got), got
    assert (1, 2, 3) in got


def test_winnow_component_edges_cap_stars(spark):
    """Round 12 cap-STAR semantics for the keep/component consumers
    (the r11 verdict's top item): a fingerprint bucket over the
    32-doc hub cap contributes k-1 min-doc STAR edges to
    winnow_component_edges instead of retracting — so a viral >cap
    cluster (a video copied 100x, boilerplate-scale span reuse)
    still resolves to ONE component at the keep endpoints, with
    linear edges. The PAIR contract (winnow_edge_counts →
    winnow_pairs_from_counts) keeps the conservative retraction —
    both pinned here against one index."""
    from logsdb_spark.operators.dedup import (
        connected_components,
        winnow_component_edges,
        winnow_edge_counts,
        winnow_pairs_from_counts,
    )

    rows = []
    # fp=100: a 40-doc over-cap bucket (viral cluster) → stars 1→d
    for d in range(1, 41):
        rows.append((d, 100))
    # docs 50,51: two shared in-range fps → the classic >=2 pair
    rows += [(50, 500), (51, 500), (50, 501), (51, 501)]
    # docs 60,61: ONE shared in-range fp → below min_shared, no edge
    rows += [(60, 600), (61, 600)]
    ex = spark.createDataFrame(rows, "doc_id long, fp long")

    edges = {(r.id_a, r.id_b)
             for r in winnow_component_edges(ex).collect()}
    want = {(1, d) for d in range(2, 41)} | {(50, 51)}
    assert edges == want, edges ^ want

    # the star edges span one component over the whole viral bucket
    comp = {r.doc_id: r.cluster
            for r in connected_components(
                winnow_component_edges(ex)).collect()}
    assert {comp[d] for d in range(1, 41)} == {1}
    assert comp[50] == comp[51] == 50
    assert 60 not in comp and 61 not in comp  # singletons stay out

    # pair contract unchanged: over-cap bucket contributes nothing
    pair = {(r.id_a, r.id_b, r.n_shared_fps)
            for r in winnow_pairs_from_counts(
                winnow_edge_counts(ex)).collect()}
    assert pair == {(50, 51, 2)}, pair


def test_winnow_star_state_delta_equals_rebuild(spark):
    """Round-12 star-state maintenance: merging a shard's occupancy
    into the stored (fp, c, rep) state must yield exactly the
    rebuild's state, and the derived star edges must equal
    winnow_component_edges' star half — including a shard that
    pushes a bucket over the cap AND one that lowers the bucket's
    rep (the least() merge)."""
    from logsdb_spark.operators.dedup import (
        winnow_component_edges,
        winnow_star_state,
        winnow_star_state_apply_delta,
        winnow_stars_from_state,
    )

    old_rows = [(d, 100) for d in range(10, 14)]   # bucket 100: 4 docs
    old_rows += [(20, 200), (21, 200)]             # bucket 200: stays small
    old = spark.createDataFrame(old_rows, "doc_id long, fp long")
    # shard: doc 5 joins bucket 100 (over cap=4 AND new minimum rep)
    new = spark.createDataFrame([(5, 100), (5, 300)],
                                "doc_id long, fp long")
    full = old.unionByName(new)

    merged = {(r.fp, r.c, r.rep)
              for r in winnow_star_state_apply_delta(
                  winnow_star_state(old), new).collect()}
    rebuilt = {(r.fp, r.c, r.rep)
               for r in winnow_star_state(full).collect()}
    assert merged == rebuilt
    assert (100, 5, 5) in merged  # count 5, rep lowered to the arrival

    stars = {(r.id_a, r.id_b)
             for r in winnow_stars_from_state(
                 winnow_star_state_apply_delta(
                     winnow_star_state(old), new),
                 full, cap=4).collect()}
    assert stars == {(5, d) for d in range(10, 14)}
    # equality with the one-shot component-edge star half at the
    # same cap: component edges = stars here (docs 20,21 share only
    # ONE in-range fp, below the >=2-shared pair threshold)
    comp = {(r.id_a, r.id_b)
            for r in winnow_component_edges(full, cap=4).collect()}
    assert comp == stars, (comp, stars)


def test_lsh_emission_delta_handles_cap_crossing(spark):
    """Round-12 MinHash edge maintenance: the delta over banded
    emission counts must equal a fresh rebuild when the arriving
    shard pushes a band bucket past the cap — the clique↔star switch
    tracked per direction by (n_pair, n_star). Built on hand-made
    signatures (identical sig ⇒ same bucket in all 16 bands) with a
    tiny cap so the transition is exercised without 512 docs."""
    from logsdb_spark.operators.dedup import (
        N_PERM,
        lsh_counts_apply_delta,
        lsh_emission_counts,
    )

    sig_a = [7] * N_PERM
    sig_b = [9] * N_PERM
    rows = [(d, sig_a) for d in range(1, 5)]          # group A: 4 docs
    rows += [(50, sig_b), (51, sig_b)]                # group B: stable pair
    old = spark.createDataFrame(rows, "doc_id long, sig array<bigint>")
    new = spark.createDataFrame([(1000, sig_a)],
                                "doc_id long, sig array<bigint>")

    def rows_of(df):
        return {(r.id_a, r.id_b, r.n_pair, r.n_star)
                for r in df.collect()}

    stored = lsh_emission_counts(old, max_bucket=4)
    got = rows_of(lsh_counts_apply_delta(stored, old, new, max_bucket=4))
    want = rows_of(lsh_emission_counts(old.unionByName(new), max_bucket=4))
    assert got == want and got
    # group A's bucket went 4 -> 5 (over the cap) in ALL 16 bands:
    # every clique pair retracted, min-doc stars (1, x) appeared
    assert (50, 51, 16, 0) in got
    a_rows = {t for t in got if t[0] != 50}
    assert a_rows == {(1, d, 0, 16) for d in (2, 3, 4, 1000)}, a_rows


def test_phash_edge_delta_components_equal_rebuild(spark):
    """Round-12 Hamming-ball edge maintenance: components over
    (stored edges ∪ phash_edges_apply_delta's additions) must equal
    components over the full rebuild, across every delta regime at
    once — an arriving doc whose hash is already indexed AND whose
    id undercuts the stored rep (the delta stars onto the OLD rep;
    the rebuild would re-root — edges differ, components must not),
    a new hash BRIDGING two previously-separate old components, a
    shard-internal near-dup pair, a multi-doc new hash (new-rep
    star), and a far singleton that must connect to nothing."""
    from logsdb_spark.operators.dedup import (
        connected_components,
        phash_component_edges,
        phash_edges_apply_delta,
        phash_reps_apply_delta,
    )

    h0, h1, h2 = 0x00, 0x01, 0x3F          # d(h0,h1)=1; d(*,h2)>3
    bridge = 0x07                           # <=3 from h0, h1 AND h2
    g, g2 = 0xF << 46, 0xF << 30            # far from everything
    lone = (1 << 40) | (1 << 20) | (1 << 10) | (1 << 5)
    old = spark.createDataFrame(
        [(10, h0), (12, h0), (14, h1), (20, h2), (22, h2)],
        "doc_id long, phash long",
    )
    new = spark.createDataFrame(
        [(4, h0),                 # existing hash, id undercuts rep 10
         (30, bridge),            # merges {10,12,14,4} with {20,22}
         (40, g), (42, g ^ (0b11 << 10)),  # shard-internal pair (d=2)
         (44, g2), (46, g2),      # multi-doc NEW hash -> new-rep star
         (50, lone)],             # singleton
        "doc_id long, phash long",
    )
    full = old.unionByName(new)

    stored_edges = phash_component_edges(old)
    stored_reps = old.groupBy(F.col("phash").alias("hv")).agg(
        F.min("doc_id").alias("rep_id"))
    got = {r.doc_id: r.cluster
           for r in connected_components(
               phash_edges_apply_delta(stored_edges, stored_reps, new)
           ).collect()}
    want = {r.doc_id: r.cluster
            for r in connected_components(
                phash_component_edges(full)).collect()}
    assert got == want
    assert want[30] == want[20] == want[10] == 4   # bridged, min id 4
    assert want[42] == 40 and want[46] == 44
    assert 50 not in want

    # the rep-table delta is rebuild-exact (least-merge semantics)
    merged = {(r.hv, r.rep_id)
              for r in phash_reps_apply_delta(stored_reps, new).collect()}
    rebuilt = {(r.hv, r.rep_id)
               for r in full.groupBy(F.col("phash").alias("hv"))
               .agg(F.min("doc_id").alias("rep_id")).collect()}
    assert merged == rebuilt
    assert (h0, 4) in merged                        # undercut recorded


def test_ivf_assign_delta_equals_rebuild_under_frozen_model(spark):
    """Round-12 ANN index maintenance: (a) the refactored
    ivf_assign_with_model is value-identical to the fused
    ivf_cell_assignments when handed the same derived model, and
    (b) encoding a shard under the frozen model + appending equals
    the full rebuild under that model — the definitional contract
    ann_index_maintenance_ivf oracle-gates at sf0.01, pinned here at
    operator level on the real corpus."""
    from logsdb_spark.operators.similarity import (
        _with_norm,
        ivf_assign_apply_delta,
        ivf_assign_with_model,
        ivf_cell_assignments,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    n = emb.count()
    k = max(4, -(-n // 64))
    cents = _with_norm(
        emb.filter(F.col("vec_id") < k).select(
            F.col("vec_id").alias("cent_id"),
            F.col("embedding").alias("cent_vec")),
        "cent_vec", "cnrm",
    )

    def rows(df):
        return sorted((r.vec_id, r.cell, r.rk) for r in df.collect())

    fused = rows(ivf_cell_assignments(emb, target_cell_rows=64))
    split = rows(ivf_assign_with_model(emb, cents))
    assert fused == split

    old = emb.filter(F.col("vec_id") % 10 != 0)
    new = emb.filter(F.col("vec_id") % 10 == 0)
    stored = ivf_assign_with_model(old, cents)
    got = rows(ivf_assign_apply_delta(stored, cents, new))
    assert got == split


def test_dsir_weights_prefer_target_vocabulary(spark):
    """DSIR semantic pin: with a target sample defined by a marker
    vocabulary, a pool document reusing that vocabulary must outweigh
    a pool document with disjoint vocabulary — the sign of the hashed
    log-likelihood ratio, independent of hash bucketing details."""
    from logsdb_spark.operators.selection import dsir_importance_weights

    rows = [
        # target sample: the "domain" vocabulary
        (1, "alpha beta gamma delta alpha beta", True),
        (2, "beta gamma delta epsilon beta gamma", True),
        # pool: one doc in-domain, one disjoint, one mixed
        (10, "alpha beta gamma delta beta gamma", False),
        (11, "zork quux blarg froop zork quux", False),
        (12, "alpha beta zork quux gamma froop", False),
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t, _ in rows], "doc_id long, text string"
    ).withColumn("is_t", F.col("doc_id") < 10)
    w = {r.doc_id: r.weight_e6
         for r in dsir_importance_weights(
             docs, F.col("is_t")).collect()}
    assert set(w) == {10, 11, 12}
    assert w[10] > w[12] > w[11]
    assert w[10] > 0 and w[11] < 0


def test_dsir_gumbel_resample_tilts_toward_target(spark):
    """The Gumbel draw must (a) be deterministic per seed, (b) differ
    across seeds, and (c) tilt toward the target distribution: the
    sampled half's mean importance weight exceeds the pool mean —
    the inclusion-probability-proportional-to-weight contract,
    checked without pinning any single draw."""
    from logsdb_spark.operators.selection import (
        dsir_gumbel_keys,
        dsir_importance_weights,
    )

    docs = load_table(spark, SF_DIR, "documents")
    w = dsir_importance_weights(docs, F.col("doc_id") % 7 == 0)
    k1 = dsir_gumbel_keys(w, seed="s1").collect()
    k1b = dsir_gumbel_keys(w, seed="s1").collect()
    k2 = dsir_gumbel_keys(w, seed="s2").collect()
    key1 = {r.doc_id: r.key_e6 for r in k1}
    assert key1 == {r.doc_id: r.key_e6 for r in k1b}
    assert key1 != {r.doc_id: r.key_e6 for r in k2}

    n = len(k1)
    top = sorted(k1, key=lambda r: (-r.key_e6, r.doc_id))[: n // 2]
    mean_all = sum(r.weight_e6 for r in k1) / n
    mean_top = sum(r.weight_e6 for r in top) / (n // 2)
    assert mean_top > mean_all


def test_two_level_covering_probe_matches_flat(spark):
    """The two-level quantizer is EXACTLY the flat assignment when the
    coarse probe covers every coarse cell (all fine centroids become
    candidates) — the correctness pin for the round-13 hierarchy: any
    divergence in scoring, tie-breaks, or block assembly would break
    this equality. Also exercised with coarse_probe far beyond m so
    the null-block (F.get out-of-range) path is proven safe."""
    from logsdb_spark.operators.similarity import (
        _with_norm,
        ivf_assign_with_model,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    cents = _with_norm(
        emb.filter(F.col("vec_id") < 9).select(
            F.col("vec_id").alias("cent_id"),
            F.col("embedding").alias("cent_vec"),
        ), "cent_vec", "cnrm",
    )
    flat = sorted(
        (r.vec_id, r.cell, r.rk)
        for r in ivf_assign_with_model(emb, cents, n_assign=2)
        .select("vec_id", "cell", "rk").collect()
    )
    # m = ceil(sqrt(9)) = 3 coarse cells: probing 3 is exhaustive.
    for probe in (3, 7):
        two = sorted(
            (r.vec_id, r.cell, r.rk)
            for r in ivf_assign_with_model(
                emb, cents, n_assign=2, coarse_probe=probe)
            .select("vec_id", "cell", "rk").collect()
        )
        assert two == flat


def _two_level_block_joins(emb, cents, n_assign, coarse_probe):
    """The r13 per-block broadcast-join form of the two-level encode —
    the parity oracle for the folded one-row model
    ivf_assign_with_model broadcasts. The coarse row broadcasts once,
    then each of the ``coarse_probe`` probed coarse cells is one
    broadcast LEFT join against the block relation (F.get: null past
    the array end, so m < coarse_probe just probes every cell; the
    null block is compacted away)."""
    from logsdb_spark.operators.similarity import (
        _topm_from,
        _with_norm,
        two_level_model,
    )

    coarse_row, blocks = two_level_model(cents)
    cur = (
        _with_norm(emb, "embedding", "_nrm")
        .join(F.broadcast(coarse_row))
        .select(
            "vec_id", "embedding", "_nrm",
            _topm_from(F.col("_coarse"), F.col("embedding"),
                       F.col("_nrm"), coarse_probe).alias("_cc"),
        )
    )
    for i in range(coarse_probe):
        blk = blocks.select(F.col("ccell").alias(f"_bc{i}"),
                            F.col("blk").alias(f"_blk{i}"))
        cur = cur.join(
            F.broadcast(blk),
            F.get(F.col("_cc"), F.lit(i)) == F.col(f"_bc{i}"),
            "left",
        )
    cands = F.flatten(F.array_compact(
        F.array(*[F.col(f"_blk{i}") for i in range(coarse_probe)])))
    return cur.select(
        "vec_id",
        F.posexplode(_topm_from(cands, F.col("embedding"), F.col("_nrm"),
                                n_assign)).alias("rk", "cell"),
    )


def test_two_level_folded_lookup_matches_block_joins(spark):
    """Round-14 optimization pin: the FOLDED two-level encode (ONE
    broadcast model row — coarse array + ccell→blk map — and a per-row
    map lookup) assigns IDENTICALLY to the r13 per-block
    broadcast-join form it replaced, including the m < coarse_probe
    overflow case (probe far beyond the coarse cell count) where the
    old form's F.get/left-join produced null blocks."""
    from logsdb_spark.operators.similarity import (
        _with_norm,
        ivf_assign_with_model,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    cents = _with_norm(
        emb.filter(F.col("vec_id") < 9).select(
            F.col("vec_id").alias("cent_id"),
            F.col("embedding").alias("cent_vec"),
        ), "cent_vec", "cnrm",
    )

    def rows(df):
        return sorted((r.vec_id, r.cell, r.rk)
                      for r in df.select("vec_id", "cell", "rk").collect())

    for probe in (2, 7):
        folded = ivf_assign_with_model(emb, cents, n_assign=2,
                                       coarse_probe=probe)
        joins = _two_level_block_joins(emb, cents, 2, probe)
        assert rows(folded) == rows(joins)


def test_two_level_layout_matches_inplan(spark):
    """The MATERIALIZED two-level hierarchy (round-13 optimization:
    silver._two_level_layout, model state stored next to the
    centroids) yields assignments IDENTICAL to deriving the hierarchy
    in-plan — the equality that lets the layout-fed consumers
    (ann_ivf_kmeans, ann_index_maintenance_ivf) keep their oracles."""
    from logsdb_spark.operators.silver import (
        cent90_two_level_layout,
        ivf_cent90_layout,
    )
    from logsdb_spark.operators.similarity import ivf_assign_with_model

    emb = load_table(spark, SF_DIR, "embeddings").filter(
        F.col("vec_id") % 10 == 0)
    cents = ivf_cent90_layout(spark, SF_DIR)

    def rows(two_level):
        return sorted(
            (r.vec_id, r.cell, r.rk)
            for r in ivf_assign_with_model(
                emb, cents, n_assign=2, coarse_probe=2,
                two_level=two_level)
            .select("vec_id", "cell", "rk").collect()
        )

    assert rows(cent90_two_level_layout(spark, SF_DIR)) == rows(None)


def test_fused_count_merges_match_two_step(spark):
    """Round-13 optimization pin: the FUSED union+aggregate merges
    (winnow_edges_apply_delta / lsh_counts_apply_delta merging raw
    signed emissions, winnow_star_state_apply_delta /
    phash_reps_apply_delta merging via grouped sum/min) produce
    relations IDENTICAL to the explicit two-step / full-outer-join
    forms they replaced — the associative-merge equivalence the
    rewrite rests on, checked on the real sf0.001 index state. The
    full-outer forms are the shipped BUCKETED-store merges
    (winnow_counts_merge_outer / lsh_counts_merge_outer, round 14) —
    this pin covers both directions of the equivalence."""
    from logsdb_spark.operators.dedup import (
        lsh_count_delta,
        lsh_counts_apply_delta,
        lsh_counts_merge_outer,
        phash_reps_apply_delta,
        winnow_count_delta,
        winnow_counts_merge_outer,
        winnow_edges_apply_delta,
        winnow_star_state,
        winnow_star_state_apply_delta,
    )
    from logsdb_spark.operators.silver import (
        minhash_emission_count_layout,
        minhash_index_layout,
        winnow_edge_count_layout,
        winnow_fp_layout,
    )

    # winnow: fused vs explicit delta + outer-join merge
    idx = winnow_fp_layout(spark, SF_DIR)
    old_ex = idx.filter(F.col("doc_id") % 10 != 0)
    new_ex = idx.filter(F.col("doc_id") % 10 == 0)
    stored = winnow_edge_count_layout(spark, SF_DIR)
    fused = sorted(
        tuple(r) for r in
        winnow_edges_apply_delta(stored, old_ex, new_ex).collect()
    )
    delta = winnow_count_delta(old_ex, new_ex)
    joined = sorted(
        tuple(r) for r in
        winnow_counts_merge_outer(stored, delta).collect()
    )
    assert fused == joined and len(fused) > 0

    # lsh: fused vs explicit delta + outer-join merge
    midx = minhash_index_layout(spark, SF_DIR)
    old_sig = midx.filter(F.col("doc_id") % 10 != 0).select("doc_id", "sig")
    new_sig = midx.filter(F.col("doc_id") % 10 == 0).select("doc_id", "sig")
    mstored = minhash_emission_count_layout(spark, SF_DIR)
    mfused = sorted(
        tuple(r) for r in
        lsh_counts_apply_delta(mstored, old_sig, new_sig).collect()
    )
    mdelta = lsh_count_delta(old_sig, new_sig)
    mjoined = sorted(
        tuple(r) for r in
        lsh_counts_merge_outer(mstored, mdelta).collect()
    )
    assert mfused == mjoined and len(mfused) > 0

    # star state: union+agg vs full-outer least/sum
    st = winnow_star_state(old_ex)
    sfused = sorted(
        tuple(r) for r in
        winnow_star_state_apply_delta(st, new_ex).collect()
    )
    sh = winnow_star_state(new_ex).select(
        "fp", F.col("c").alias("_cn"), F.col("rep").alias("_rn"))
    sjoined = sorted(
        tuple(r) for r in
        st.join(sh, "fp", "full")
        .select(
            "fp",
            (F.coalesce("c", F.lit(0)) + F.coalesce("_cn", F.lit(0)))
            .alias("c"),
            F.least("rep", "_rn").alias("rep"),
        )
        .collect()
    )
    assert sfused == sjoined and len(sfused) > 0

    # rep table: union+min vs full-outer least
    reps = (
        old_ex.groupBy(F.col("fp").alias("hv"))
        .agg(F.min("doc_id").alias("rep_id"))
    )
    newh = new_ex.select("doc_id", F.col("fp").alias("phash"))
    rfused = sorted(
        tuple(r) for r in phash_reps_apply_delta(reps, newh).collect()
    )
    rsh = (
        newh.groupBy(F.col("phash").alias("hv"))
        .agg(F.min("doc_id").alias("_rn"))
    )
    rjoined = sorted(
        tuple(r) for r in
        reps.join(rsh, "hv", "full")
        .select("hv", F.least("rep_id", "_rn").alias("rep_id"))
        .collect()
    )
    assert rfused == rjoined and len(rfused) > 0
