"""Similarity search over embedding columns — *[extension]*
(SURVEY §2.12).

Two tiers:
- brute-force cosine top-k (exact; the oracle baseline — cross join,
  O(probes × corpus), fine when the probe set is small and broadcast)
- LSH-bucketed ANN (random-hyperplane signatures; the scale path —
  candidates only within matching buckets, probabilistic recall)

Hyperplanes are derived deterministically from xxhash64(dim, plane) so
runs are reproducible without any RNG state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.vectors import cosine, dot, norm


def _with_norm(df: DataFrame, vec_col: str, norm_col: str) -> DataFrame:
    """Stage the vector norm as a materialized column. Per-VECTOR work
    (one sqrt-fold) must happen before any per-PAIR expression — inlined
    in a pair projection it is recomputed once per pair, and
    higher-order-function lambdas get no codegen subexpression
    elimination to save us. sqrt is deterministic, so the staged value
    is bit-identical to an inline recompute (oracle parity unaffected)."""
    return df.select("*", norm(F.col(vec_col)).alias(norm_col))


def brute_force_topk(emb: DataFrame, probes: DataFrame, k: int = 10) -> DataFrame:
    """Exact top-k cosine neighbors for each probe vector.

    ``probes`` is (probe_id, probe_vec); it broadcasts, so the corpus is
    scanned once with no shuffle of the big side. Norms are staged per
    side, so the per-pair expression is ONE dot fold. The per-probe
    top-k window partitions by probe_id — k·|probes| rows after
    filtering."""
    e = _with_norm(emb, "embedding", "_nrm")
    p = _with_norm(probes, "probe_vec", "_pn")
    scored = e.join(F.broadcast(p)).select(
        "probe_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round(
            dot(F.col("embedding"), F.col("probe_vec"))
            / (F.col("_nrm") * F.col("_pn")),
            4,
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("probe_id", "neighbor_id", "cos_sim", "rank")
    )


def hyperplane_signature(vec: F.Column, n_planes: int, dim: int,
                         plane_offset: int = 0) -> F.Column:
    """Sign-bit signature: bit p = [dot(vec, h_p) > 0] where
    h_p[i] = +1 if xxhash64(i, p) even else -1. The dot with a ±1
    hyperplane is an ordered fold of conditional adds — all JVM-side.
    ``plane_offset`` shifts the plane index space so multiple LSH
    tables draw disjoint hyperplane sets."""
    def plane_dot(pl: int) -> F.Column:
        p = pl + plane_offset
        signed = F.zip_with(
            vec,
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda x, i: F.when(
                F.xxhash64(i, F.lit(p)).bitwiseAND(F.lit(1)) == 0,
                x.cast("double"),
            ).otherwise(-x.cast("double")),
        )
        return F.aggregate(signed, F.lit(0.0), lambda acc, v: acc + v)

    bits = [
        F.when(plane_dot(p) > 0, F.shiftleft(F.lit(1).cast("long"), p)).otherwise(
            F.lit(0).cast("long")
        )
        for p in range(n_planes)
    ]
    sig = bits[0]
    for b in bits[1:]:
        sig = sig.bitwiseXOR(b)
    return sig


def _table_sigs(vec: F.Column, n_tables: int, n_planes: int,
                dim: int) -> F.Column:
    """Array of (table, bucket-signature) structs — one signature per
    LSH table, each over its own disjoint plane set."""
    return F.array(
        *[
            F.struct(
                F.lit(t).alias("tbl"),
                hyperplane_signature(
                    vec, n_planes, dim, plane_offset=t * n_planes
                ).alias("bucket"),
            )
            for t in range(n_tables)
        ]
    )


def lsh_ann_topk(emb: DataFrame, probes: DataFrame, k: int = 10,
                 n_tables: int = 4, n_planes: int = 6, dim: int = 64) -> DataFrame:
    """Multi-table hyperplane-LSH ANN: L independent tables of b planes
    each; a corpus vector is a candidate if it shares a bucket with the
    probe in ANY table (the standard L-tables recall amplifier —
    P(candidate) = 1-(1-p^b)^L, p = 1-θ/π).

    Scale shape: the corpus scan emits L narrow (tbl, bucket) keys per
    vector; the probe side broadcasts, so candidates surface without a
    corpus shuffle. Duplicate (probe, vec) hits from multiple tables are
    folded by a groupBy on the candidate-sized intermediate, never the
    corpus. Recall < 1 by construction — measured against brute force
    in tests/test_dedup_similarity.py, not oracle-gated."""
    bucketed = _with_norm(emb, "embedding", "_nrm").select(
        "vec_id",
        "embedding",
        "_nrm",
        F.explode(
            _table_sigs(F.col("embedding"), n_tables, n_planes, dim)
        ).alias("b"),
    )
    pb = _with_norm(probes, "probe_vec", "_pn").select(
        "probe_id",
        "probe_vec",
        "_pn",
        F.explode(
            _table_sigs(F.col("probe_vec"), n_tables, n_planes, dim)
        ).alias("b"),
    )
    scored = (
        bucketed.join(F.broadcast(pb), ["b"])
        .select(
            "probe_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(
                dot(F.col("embedding"), F.col("probe_vec"))
                / (F.col("_nrm") * F.col("_pn")),
                4,
            ).alias("cos_sim"),
        )
        # fold multi-table duplicates (identical scores) into one row
        .groupBy("probe_id", "neighbor_id")
        .agg(F.max("cos_sim").alias("cos_sim"))
    )
    w = Window.partitionBy("probe_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("probe_id", "neighbor_id", "cos_sim", "rank")
    )


def pairwise_cosine_dedup(emb: DataFrame, threshold: float = 0.95) -> DataFrame:
    """Embedding-cosine near-dup pairs (brute force baseline — the
    oracle ground truth; the LSH/IVF buckets above are the scale path).
    Norms staged per side: the O(n²) pair projection computes one dot
    fold, not dot + 2 norm folds (measured ~3x on the driver corpus)."""
    a = _with_norm(
        emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va")),
        "va", "_na",
    )
    b = _with_norm(
        emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb")),
        "vb", "_nb",
    )
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(
                dot(F.col("va"), F.col("vb")) / (F.col("_na") * F.col("_nb")), 4
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def ivf_cell_near_dups(emb: DataFrame, threshold: float = 0.4,
                       n_centroids: int | None = None,
                       n_assign: int = 2,
                       target_cell_rows: int | None = None) -> DataFrame:
    """IVF-blocked embedding near-dup: assign every vector to its
    ``n_assign`` nearest centroid cells (multi-assignment — the
    pair-generation analogue of query-side nprobe), emit candidate
    pairs only within shared cells, then verify with the exact cosine.

    This is the scale path pairwise_cosine_dedup cannot be: the corpus
    shuffles once on the cell key (bucket-grouped pair emit, same shape
    as the MinHash-LSH dedup), never self-joins. Candidate volume is
    bounded by cell sizes, i.e. corpus²/n_centroids in expectation —
    with n_centroids scaled ~sqrt(corpus) this is linear per cell.

    Recall is approximate BY CONSTRUCTION and honestly so: blocking
    with exact recall at cosine 0.4 (66°) does not exist — that is
    background-similarity territory, not near-dup territory (this
    corpus plants no embedding dups; its ≥0.4 tail tops out at 0.51).
    Measured cell-recall vs the brute-force ground truth is pinned in
    tests/test_dedup_similarity.py. The oracle therefore mirrors THESE
    semantics (centroid argmax → top-n_assign cells → intra-cell pairs
    → exact cosine ≥ threshold) exactly in SQL — the hash gate checks
    the distributed implementation, the pytest checks the recall. At a
    production near-dup threshold (≥0.9) the same pipeline's recall
    approaches 1 as the angle shrinks.

    ``n_centroids=None`` (the default) scales the cell count with the
    corpus: ceil(sqrt(n)), floored at 4 — expected cell size ~sqrt(n).
    NOTE the total candidate volume under sqrt-cells is n²/sqrt(n) =
    n^1.5 (each of sqrt(n) cells holds sqrt(n) rows → n pairs): right
    for the low-threshold COVERAGE regime (0.4), where fewer/larger
    cells buy recall, but superlinear at scale — the 10x probe
    measured 5.7x wall at 10x data for this shape. For the NEAR-DUP
    regime (threshold ≥ ~0.85, where twins share a cell at almost any
    granularity) pass ``target_cell_rows`` instead: cell count scales
    n/target → candidate volume n·target, truly LINEAR — that is the
    100 TB configuration and what the scale probe measures. Either
    count is a LAZY broadcast 1-row aggregate joined into the
    centroid-selection filter (not a driver-side ``count()`` at build
    time), so constructing this plan runs no job; pass an explicit
    ``n_centroids`` to pin it and let the centroid filter push down to
    the scan instead.

    Candidate pairs come from the per-cell BLAS prefilter (round 10):
    one fp64 GEMM per cell scores every intra-cell pair and hands only
    the survivors (answer + a conservative guard band — see
    functions/arrow_kernels.cell_prefilter_pairs for the no-false-
    negative derivation) to the exact ordered-fold verify, so the
    final values equal verifying every intra-cell pair while
    candidate-volume work never reaches the join machinery."""
    from ..functions.arrow_kernels import cell_prefilter_pairs

    full_assigned = ivf_cell_assignments(
        emb, n_centroids=n_centroids, n_assign=n_assign,
        target_cell_rows=target_cell_rows,
    )
    cands = cell_prefilter_pairs(full_assigned, threshold)
    a = _with_norm(
        emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va")),
        "va", "_na",
    )
    b = _with_norm(
        emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb")),
        "vb", "_nb",
    )
    return _verify_cosine_pairs(cands, a, b, threshold)


def _verify_cosine_pairs(cands: DataFrame, a: DataFrame, b: DataFrame,
                         threshold: float) -> DataFrame:
    """Exact-cosine verification tail shared by the in-plan and
    index-fed IVF dedup routes: join the candidate pairs to the
    (id, vector, norm) sides and keep cos >= threshold. The rounded
    cosine is computed with the JVM ordered fold (functions/vectors.
    dot — the same FP operation order as the DuckDB oracle's
    list_sum), so the two callers are value-identical.

    The candidate frame is REPARTITIONED first: the verify stage is
    COMPUTE-bound (a 64-dim fold per pair), and AQE's byte-based
    coalescing — seeing a few MB of (id_a, id_b) pairs — would
    otherwise shrink it to one task (measured round 8: the sf0.1
    verify ran serially at ~2 s; spread over 32 cores it is ~0.4 s).
    The explicit partition count (defaultParallelism) marks the
    exchange user-specified, which AQE honors."""
    width = cands.sparkSession.sparkContext.defaultParallelism
    cands = cands.repartition(width, F.col("id_a"))
    return (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                dot(F.col("va"), F.col("vb")) / (F.col("_na") * F.col("_nb")), 4
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def ivf_cell_assignments(emb: DataFrame, n_centroids: int | None = None,
                         n_assign: int = 2,
                         target_cell_rows: int | None = None) -> DataFrame:
    """The IVF ASSIGNMENT relation → (vec_id, cell, rk, embedding,
    nrm): every vector replicated into its top-``n_assign`` centroid
    cells with the assignment rank (rk=0 is the nearest cell), the
    raw vector, and its precomputed L2 norm riding along. This is the
    inverted-list state a production ANN store maintains columnar at
    ingest — operators/silver.ivf_assign_layout materializes exactly
    this frame (round 8), and ivf_cell_near_dups derives it in-plan;
    both routes are value-identical because the assignment is a
    deterministic function of the corpus (centroid selection, cosine
    scoring, and the (cos DESC, cent_id) tie-break all live in
    _topm_cells). rk lets index readers recover one unique
    (vec_id, embedding, nrm) row per vector with a pushed rk=0
    filter — no dedup shuffle."""
    if n_centroids is None:
        if target_cell_rows is not None:
            k_expr = F.ceil(
                F.count(F.lit(1)) / F.lit(float(target_cell_rows))
            ).cast("long")
        else:
            k_expr = F.ceil(F.sqrt(F.count(F.lit(1)))).cast("long")
        k_row = emb.agg(
            F.greatest(F.lit(4).cast("long"), k_expr).alias("_ncents")
        )
        cent_base = (
            emb.join(F.broadcast(k_row))
            .filter(F.col("vec_id") < F.col("_ncents"))
            .drop("_ncents")
        )
    else:
        cent_base = emb.filter(F.col("vec_id") < n_centroids)
    cents = _with_norm(
        cent_base.select(
            F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cent_vec")
        ),
        "cent_vec",
        "cnrm",
    )
    return ivf_assign_with_model(emb, cents, n_assign)


def two_level_model(cents: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Derive the TWO-LEVEL quantizer from a fine centroid frame
    (round 13 — kills the flat-centroid growth law the r12 verdict
    flagged): a coarse layer of m = ceil(sqrt(k)) cells over the k
    fine centroids, so per-vector assignment scores O(sqrt(k))
    centroids instead of all k, and the model broadcasts as
    PER-COARSE-CELL BLOCKS of ~sqrt(k) fine structs instead of one
    k-struct mega-row (at 1 B vectors / 16 M fine cells the flat row
    is ~4 GB in ONE broadcast row; a block is ~1 MB).

    Returns ``(coarse_row, blocks)``:
    - ``coarse_row``: ONE row with ``_coarse`` = the sorted
      (cent_id, cent_vec, cnrm) struct array of the m coarse cells —
      the m lowest-cent_id fine centroids (the same deterministic
      selection rule as the fine model's own seeding, so the whole
      hierarchy stays SQL-replayable);
    - ``blocks``: (ccell, blk) — every fine centroid tagged with its
      argmax-cosine coarse cell (ties toward the lowest ccell, the
      family's ROW_NUMBER rule), grouped into per-coarse-cell struct
      arrays.

    The coarse ranking window runs over k model rows (single
    partition) — model-sized, not corpus-sized, and model derivation
    is the rare explicitly-versioned refresh event, never per-shard
    work."""
    m_row = cents.agg(
        F.ceil(F.sqrt(F.count(F.lit(1)))).cast("long").alias("_m")
    )
    ranked = cents.withColumn(
        "_crn", F.row_number().over(Window.orderBy("cent_id"))
    )
    coarse = (
        ranked.join(F.broadcast(m_row))
        .filter(F.col("_crn") <= F.col("_m"))
        .select("cent_id", "cent_vec", "cnrm")
    )
    coarse_row = coarse.agg(
        F.array_sort(
            F.collect_list(F.struct("cent_id", "cent_vec", "cnrm"))
        ).alias("_coarse")
    )
    tagged = cents.join(F.broadcast(coarse_row)).select(
        "cent_id",
        "cent_vec",
        "cnrm",
        F.element_at(
            _topm_from(F.col("_coarse"), F.col("cent_vec"), F.col("cnrm"), 1),
            1,
        ).alias("ccell"),
    )
    blocks = tagged.groupBy("ccell").agg(
        F.array_sort(
            F.collect_list(F.struct("cent_id", "cent_vec", "cnrm"))
        ).alias("blk")
    )
    return coarse_row, blocks


def two_level_folded_row(coarse_row: DataFrame,
                         blocks: DataFrame) -> DataFrame:
    """The ONE-ROW folded model — (_coarse, _blkmap) — the two-level
    encode (ivf_assign_with_model) broadcasts: the coarse struct array
    joined with the block relation collapsed into a ccell→blk map
    (round 14). Pure reshaping of the two two_level_model frames, so a
    layout of this row is value-identical to folding in-plan
    (silver._two_level_layout stores it, making the broadcast build a
    single tiny parquet scan instead of two scans + an aggregate + a
    join)."""
    return coarse_row.join(
        blocks.agg(
            F.map_from_entries(
                F.collect_list(F.struct("ccell", "blk"))
            ).alias("_blkmap")
        )
    )


def ivf_assign_with_model(emb: DataFrame, cents: DataFrame,
                          n_assign: int = 2,
                          coarse_probe: int | None = None,
                          two_level: DataFrame | None = None,
                          ) -> DataFrame:
    """The ENCODE half of ivf_cell_assignments, split out (round 12)
    so it can run against an EXPLICIT (frozen) centroid model: given
    a (cent_id, cent_vec, cnrm) centroid frame, assign every vector
    of ``emb`` to its top-``n_assign`` cells — the model broadcasts,
    the scoring is row-local (one whole-stage-codegen pass, no
    shuffle), so encoding cost is exactly proportional to the rows
    encoded. This is what makes the ANN index layouts maintainable
    at ingest: an arriving shard encodes under the stored model
    (ivf_assign_apply_delta below) and appends; re-selecting
    centroids is the RARE, explicitly-versioned model-refresh event,
    never the per-shard one. Same scoring + (cos DESC, cent_id)
    tie-break as the fused form (shared _topm_cells via the joined
    ``_cents`` row), so model-equal inputs are value-identical.

    ``coarse_probe`` set routes through the TWO-LEVEL quantizer
    (round 13): each vector first ranks the m = ceil(sqrt(k)) coarse
    cells (two_level_model) and takes the top ``coarse_probe``, then
    scores ONLY the fine centroids inside those coarse cells — per-row
    cost O(coarse_probe·sqrt(k)) instead of O(k). Still a pure
    map-side pipeline: the corpus is never shuffled. The model
    broadcasts as ONE row carrying the coarse array plus the blocks as
    a ccell→blk map (round 14): per row, one HOF coarse ranking, one
    map lookup per probed cell, one HOF fine ranking — no join probes.
    The r13 form it replaced (``coarse_probe`` sequential
    broadcast-hash joins against the block relation) selects the same
    candidates in the same order and lives on as the test oracle in
    tests/test_dedup_similarity.py. Scale note: the folded row carries
    all k fine structs in one broadcast row — the same total bytes as
    the flat path's mega-row. The hierarchical assignment is a
    different (approximate) cell relation than the flat one — its
    oracles replay the identical two-stage rule, and recall gates pin
    quality.

    ``two_level`` lets the caller hand in the PREBUILT folded model
    row (two_level_folded_row) — the materialized two-level model
    layout (operators/silver._two_level_layout): the hierarchy is pure
    model state, so production stores it next to the centroids
    instead of re-deriving it per query. Value-identical to the
    in-plan derivation (the layout IS one execution of
    two_level_model); at bench scale it removes the window + two
    aggregation jobs embedded in every model broadcast build
    (guide §1.2 step 1 — fewer jobs, same plan tail)."""
    if coarse_probe is not None:
        # try_element_at (not element_at): NULL for a ccell with no
        # block (a duplicate-centroid coarse cell that lost its own
        # fine member to an earlier tie), compacted away.
        model_row = (two_level if two_level is not None
                     else two_level_folded_row(*two_level_model(cents)))
        cur = (
            _with_norm(emb, "embedding", "_nrm")
            .join(F.broadcast(model_row))
        )
        cands = F.flatten(
            F.array_compact(
                F.transform(
                    _topm_from(
                        F.col("_coarse"), F.col("embedding"),
                        F.col("_nrm"), coarse_probe,
                    ),
                    lambda c: F.try_element_at(F.col("_blkmap"), c),
                )
            )
        )
        return (
            cur.select(
                "vec_id",
                F.posexplode(
                    _topm_from(cands, F.col("embedding"), F.col("_nrm"),
                               n_assign)
                ).alias("rk", "cell"),
                "embedding",
                F.col("_nrm").alias("nrm"),
            )
            .select("vec_id", "cell", "rk", "embedding", "nrm")
        )
    cent_row = cents.agg(
        F.array_sort(
            F.collect_list(F.struct("cent_id", "cent_vec", "cnrm"))
        ).alias("_cents")
    )
    return (
        _with_norm(emb, "embedding", "_nrm")
        .join(F.broadcast(cent_row))
        .select(
            "vec_id",
            F.posexplode(
                _topm_cells(F.col("embedding"), n_assign)
            ).alias("rk", "cell"),
            "embedding",
            F.col("_nrm").alias("nrm"),
        )
        .select("vec_id", "cell", "rk", "embedding", "nrm")
    )


def ivf_assign_apply_delta(stored_assign: DataFrame, cents: DataFrame,
                           new_emb: DataFrame,
                           n_assign: int = 2,
                           coarse_probe: int | None = None,
                           two_level: DataFrame | None = None,
                           ) -> DataFrame:
    """INCREMENTAL maintenance of the IVF assignment index under an
    arriving shard (round 12 — the ANN twin of the dedup edge
    deltas): encode ONLY the shard against the stored centroid model
    and append to the stored inverted lists. Purely additive and
    embarrassingly shard-proportional — assignment under a frozen
    model is a row-local broadcast computation, so the delta never
    rescans or reshuffles the stored corpus. Equality with the full
    rebuild UNDER THE SAME MODEL is definitional (the encode is
    per-row deterministic) and oracle-gated end to end by
    ann_index_maintenance_ivf."""
    return stored_assign.unionByName(
        ivf_assign_with_model(new_emb, cents, n_assign,
                              coarse_probe=coarse_probe,
                              two_level=two_level)
    )


def ivf_near_dups_prepared(idx: DataFrame,
                           threshold: float = 0.85) -> DataFrame:
    """ivf_cell_near_dups DOWNSTREAM of the assignment index: ``idx``
    is the (vec_id, cell, rk, embedding, nrm) relation — read from the
    materialized ivf_assign_layout or built in-plan. The index rows
    group by cell straight into the GEMM prefilter (vectors + norms
    ride in the layout, so no join precedes it) and only the survivor
    pairs reach the exact verify, whose sides read the UNIQUE rk=0
    rows; their precomputed norms round-trip parquet bit-exactly, so
    this shares the in-plan form's oracle."""
    from ..functions.arrow_kernels import cell_prefilter_pairs

    cands = cell_prefilter_pairs(idx, threshold)
    uniq = idx.filter(F.col("rk") == 0)
    a = uniq.select(
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("va"),
        F.col("nrm").alias("_na"),
    )
    b = uniq.select(
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("vb"),
        F.col("nrm").alias("_nb"),
    )
    return _verify_cosine_pairs(cands, a, b, threshold)


def kmeans_centroids(emb: DataFrame, k: int = 16, iters: int = 2,
                     sample_mod: int = 2, round_dp: int = 6) -> DataFrame:
    """Deterministic LAZY Lloyd fit of ``k`` spherical-ish centroids →
    (cent_id, cent_vec, cnrm). The proper coarse quantizer for the IVF
    paths — replaces the first-k-by-id stand-in with centroids that
    actually sit in the data's density.

    Deterministic + SQL-expressible by construction, so queries built
    on it stay ORACLE-GATED:
    - init: the first ``k`` corpus vectors by vec_id (a deterministic
      seeding; production would use k-means||, but init only affects
      which local optimum the fit lands in);
    - sample: ``vec_id % sample_mod == 0`` — a portable deterministic
      sample (the fit cost is bounded by the sample, not the corpus;
      at 100 TB pick sample_mod so the sample is ~1e6 rows);
    - ``iters`` unrolled Lloyd rounds, each fully lazy: broadcast the
      centroid row, argmax-cosine assign the sample (narrow map
      stage), recompute centroids as the per-cell elementwise mean via
      posexplode + (cell, pos) avg — one shuffle of sample×dim NARROW
      rows per round, map-side combinable;
    - means are ROUNDED to ``round_dp`` decimals: double summation
      order differs between engines (and between Spark partial-agg
      schedules), so the round pins cross-engine equality; 1e-6 is far
      below any meaningful centroid resolution.
    Cells that lose all sample members drop out identically on both
    engines (assignment is deterministic), so parity holds without an
    empty-cell patch-up. NO action is run at build time."""
    samp = _with_norm(
        emb.filter(F.col("vec_id") % sample_mod == 0).select("vec_id", "embedding"),
        "embedding",
        "_nrm",
    )
    cents = _with_norm(
        emb.filter(F.col("vec_id") < k).select(
            F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cent_vec")
        ),
        "cent_vec",
        "cnrm",
    )
    for _ in range(iters):
        cent_row = cents.agg(
            F.array_sort(
                F.collect_list(F.struct("cent_id", "cent_vec", "cnrm"))
            ).alias("_cents")
        )
        assigned = samp.join(F.broadcast(cent_row)).select(
            "embedding", _argmax_cell(F.col("embedding")).alias("cell")
        )
        means = (
            assigned.select("cell", F.posexplode("embedding").alias("pos", "val"))
            .groupBy("cell", "pos")
            .agg(F.round(F.avg(F.col("val").cast("double")), round_dp).alias("mv"))
        )
        new_cents = means.groupBy("cell").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "mv"))),
                lambda s: s["mv"],
            ).alias("cent_vec")
        )
        cents = _with_norm(
            new_cents.select(F.col("cell").alias("cent_id"), "cent_vec"),
            "cent_vec",
            "cnrm",
        )
    return cents


def _argmax_cell(vec: F.Column) -> F.Column:
    """Nearest-cell id from the broadcast ``_cents`` row: array_max
    over (cos, -cent_id) structs — lexicographic struct ordering gives
    highest cosine, ties broken toward the LOWEST cent_id (negation) —
    the same rule the oracle's ROW_NUMBER(ORDER BY cos DESC, id ASC)
    uses. Requires ``_nrm`` staged on the input row."""
    scored_cells = F.transform(
        F.col("_cents"),
        lambda c: F.struct(
            (dot(vec, c["cent_vec"]) / (F.col("_nrm") * c["cnrm"])).alias("cos"),
            (-c["cent_id"]).alias("negid"),
        ),
    )
    return -F.array_max(scored_cells)["negid"]


def _topm_from(arr: F.Column, vec: F.Column, nrm: F.Column,
               m: int) -> F.Column:
    """Top-``m`` cell ids from an ARBITRARY (cent_id, cent_vec, cnrm)
    struct-array column — the generalized form of _topm_cells that the
    two-level quantizer scores both its levels with (the coarse row
    and the concatenated fine blocks). Ascending struct sort on
    (cos, -cent_id) then reverse puts the highest cosine first and, on
    ties, the larger negid (= smaller cent_id) first — exactly the
    ROW_NUMBER(ORDER BY cos DESC, id ASC) rule every IVF oracle
    mirrors."""
    scored_cells = F.transform(
        arr,
        lambda c: F.struct(
            (dot(vec, c["cent_vec"]) / (nrm * c["cnrm"])).alias("cos"),
            (-c["cent_id"]).alias("negid"),
        ),
    )
    top = F.slice(F.reverse(F.array_sort(scored_cells)), 1, m)
    return F.transform(top, lambda s: -s["negid"])


def _topm_cells(vec: F.Column, m: int) -> F.Column:
    """Top-``m`` cell ids for IVF multi-assignment — the SINGLE shared
    implementation of the (cos DESC, cent_id ASC) cell ordering that
    every IVF oracle's ROW_NUMBER mirrors (used by both ivf_ann_topk
    and ivf_cell_near_dups; ``_argmax_cell`` is its m=1 fast path via
    array_max). Requires ``_nrm`` + broadcast ``_cents`` staged on the
    input row; _topm_from is the arbitrary-column generalization."""
    return _topm_from(F.col("_cents"), vec, F.col("_nrm"), m)


def ivf_ann_topk(emb: DataFrame, probes: DataFrame, k: int = 10,
                 n_centroids: int = 16, nprobe: int = 4,
                 centroids: DataFrame | None = None,
                 assign_m: int = 1,
                 coarse_probe: int | None = None,
                 two_level: DataFrame | None = None,
                 ) -> DataFrame:
    """IVF-style ANN: partition the corpus into centroid cells (inverted
    lists), search only the ``nprobe`` cells nearest each probe.

    The coarse quantizer is pluggable via ``centroids`` (cent_id,
    cent_vec[, cnrm]) — pass ``kmeans_centroids(emb)`` for a fitted
    codebook; the default remains the first ``n_centroids`` corpus
    vectors by vec_id (deterministic seeding, documented stand-in).
    Either way the model is tiny and broadcasts. Exactly-
    SQL-expressible, so unlike the hyperplane LSH path this variant IS
    oracle-gated.

    ``assign_m`` > 1 replicates each corpus vector into its top-m
    cells (IVF multi-assignment): recall recovers the neighbors that
    sit just across a cell boundary — the dominant loss mode for a
    FITTED codebook, whose balanced cells slice each probe's
    neighborhood thinner than the lopsided stand-in's. The cost model
    stays sublinear: expected scan fraction is assign_m*nprobe/k, so
    at production codebook sizes (k≈4096, nprobe≈64) replication
    costs ~3% of the corpus per probe while at this test k=16 it is
    visible (8/16). Candidate pairs reached through two shared cells
    are deduped by a (probe, neighbor) max-agg — cos_sim is computed
    identically for both copies, so max is exact.

    Scale shape — the corpus is never shuffled:
    1. centroids → ONE collected row (array of structs), broadcast;
       each corpus vector folds over the array to find its argmax-cosine
       cell: a narrow map stage.
    2. probe×centroid ranking is |probes|×n_centroids rows — trivial.
    3. cell membership join is broadcast-hash (probe cells are a list of
       (cell, probe) pairs), filtering the corpus scan to candidate
       rows before any cosine against probe vectors is computed.
    4. the final per-probe top-k window sees only candidate rows.
    On a real deployment the corpus side would be written bucketed by
    ``cell`` so step 3 also prunes files (partition pruning), making the
    scan itself sublinear."""
    if centroids is None:
        cents = _with_norm(
            emb.filter(F.col("vec_id") < n_centroids).select(
                F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cent_vec")
            ),
            "cent_vec",
            "cnrm",
        )
    elif "cnrm" in centroids.columns:
        cents = centroids
    else:
        cents = _with_norm(centroids, "cent_vec", "cnrm")
    # One row holding all centroids (norms staged into the struct so
    # the per-vector argmax fold does one dot per cell, no norm folds),
    # sorted by cent_id for deterministic iteration order.
    cent_row = cents.agg(
        F.array_sort(
            F.collect_list(F.struct("cent_id", "cent_vec", "cnrm"))
        ).alias("_cents")
    )

    with_cents = _with_norm(emb, "embedding", "_nrm").join(F.broadcast(cent_row))
    if coarse_probe is not None:
        # TWO-LEVEL corpus assignment (round 13): O(sqrt(k)) dots per
        # vector via the coarse quantizer instead of all k — the
        # growth-law fix for fitted codebooks whose k scales with the
        # corpus. Probe-side cell ranking below stays flat (|probes|
        # x k, probe-sized, not corpus-sized).
        assigned = ivf_assign_with_model(
            emb, cents, n_assign=assign_m, coarse_probe=coarse_probe,
            two_level=two_level,
        ).select("vec_id", "embedding", F.col("nrm").alias("_nrm"), "cell")
    elif assign_m == 1:
        assigned = with_cents.select(
            "vec_id",
            "embedding",
            "_nrm",
            _argmax_cell(F.col("embedding")).alias("cell"),
        )
    else:
        # top-m cells per vector (same cos DESC, cent_id ASC order as
        # the m=1 argmax), exploded into m inverted-list entries.
        assigned = with_cents.select(
            "vec_id",
            "embedding",
            "_nrm",
            F.explode(_topm_cells(F.col("embedding"), assign_m)).alias("cell"),
        )

    # nprobe nearest cells per probe: |probes| × n_centroids rows.
    pc = _with_norm(probes, "probe_vec", "_pn").join(F.broadcast(cents)).select(
        "probe_id",
        "probe_vec",
        "_pn",
        "cent_id",
        F.round(
            dot(F.col("probe_vec"), F.col("cent_vec"))
            / (F.col("_pn") * F.col("cnrm")),
            4,
        ).alias("c_cos"),
    )
    wp = Window.partitionBy("probe_id").orderBy(F.desc("c_cos"), F.asc("cent_id"))
    probe_cells = (
        pc.withColumn("cr", F.row_number().over(wp))
        .filter(F.col("cr") <= nprobe)
        .select("probe_id", "probe_vec", "_pn", F.col("cent_id").alias("cell"))
    )

    scored = assigned.join(F.broadcast(probe_cells), "cell").select(
        "probe_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round(
            dot(F.col("embedding"), F.col("probe_vec"))
            / (F.col("_nrm") * F.col("_pn")),
            4,
        ).alias("cos_sim"),
    )
    if assign_m > 1:
        # A pair reached via two shared cells appears twice with the
        # SAME cos_sim; max-agg dedupes exactly (map-side combinable,
        # candidate-only volume).
        scored = scored.groupBy("probe_id", "neighbor_id").agg(
            F.max("cos_sim").alias("cos_sim")
        )
    w = Window.partitionBy("probe_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("probe_id", "neighbor_id", "cos_sim", "rank")
    )


def _i8_quantized(df: DataFrame, vec_col: str, q_col: str,
                  mx_col: str) -> DataFrame:
    """Per-vector symmetric int8 quantization: mx = max(|x_i|) (floored
    at 1e-30 so an all-zero vector quantizes to zeros instead of
    NaN), q_i = floor(127*x_i/mx + 0.5). floor(+0.5), NOT round():
    both engines compute floor identically on doubles, where
    round()'s half-case convention differs — the same determinism
    trick the fixed-point value sums use. q_i values are integers
    |q| <= 127, so the int8 dot (<= 127²·dims < 2^21 per term) is
    EXACT in both long and double arithmetic — no accumulation-order
    hazard anywhere in the approx score."""
    vec = F.col(vec_col)
    mx = F.greatest(
        F.array_max(F.transform(vec, lambda x: F.abs(x.cast("double")))),
        F.lit(1e-30),
    )
    out = df.withColumn(mx_col, mx)
    return out.withColumn(
        q_col,
        F.transform(
            vec,
            lambda x: F.floor(
                F.lit(127.0) * x.cast("double") / F.col(mx_col) + F.lit(0.5)
            ),
        ),
    )


def ivf_quantized_corpus(emb: DataFrame,
                         n_centroids: int = 16) -> DataFrame:
    """The quantized-IVF CORPUS relation → (vec_id, cell, q, mx,
    embedding, nrm): per vector its argmax centroid cell, int8 code
    array + dequant scale, the raw vector, and the L2 norm — the
    codes-next-to-inverted-lists state a deployed ANN store
    materializes columnar (ivf_ann_topk_quantized's docstring has
    always said so; operators/silver.ivf_quantized_layout now stores
    exactly this frame, round 8). Deterministic function of the
    corpus: int codes, doubles, and floats all round-trip parquet
    bit-exactly, so the prepared route shares the in-plan oracle."""
    cents = _with_norm(
        emb.filter(F.col("vec_id") < n_centroids).select(
            F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cent_vec")
        ),
        "cent_vec",
        "cnrm",
    )
    cent_row = cents.agg(
        F.array_sort(
            F.collect_list(F.struct("cent_id", "cent_vec", "cnrm"))
        ).alias("_cents")
    )
    return (
        _i8_quantized(
            _with_norm(emb, "embedding", "_nrm"), "embedding", "_q", "_mx"
        )
        .join(F.broadcast(cent_row))
        .select(
            "vec_id",
            _argmax_cell(F.col("embedding")).alias("cell"),
            F.col("_q").alias("q"),
            F.col("_mx").alias("mx"),
            "embedding",
            F.col("_nrm").alias("nrm"),
        )
    )


def ivf_ann_topk_quantized(emb: DataFrame, probes: DataFrame, k: int = 10,
                           n_centroids: int = 16, nprobe: int = 4,
                           rerank: int = 30,
                           corpus_prepared: DataFrame | None = None
                           ) -> DataFrame:
    """IVF ANN with INT8-QUANTIZED candidate scoring + exact rerank —
    the scan-compression configuration a 100 TB ANN actually runs:
    the full-precision corpus is touched only for the ``rerank``
    survivors per probe, everything before that reads 4x-smaller int8
    codes (at deployment the codes are materialized columnar next to
    the inverted lists; here they are derived in the same scan to
    keep the pipeline self-contained and oracle-checkable).

    Stage shape (corpus never shuffled, same as ivf_ann_topk):
    cells via broadcast-centroid argmax → candidate join on probed
    cells → APPROX score = int8dot(qa, qb) · mxa · mxb (a monotone
    estimate of the unnormalized dot; exact-integer int8dot, two
    deterministic double multiplies — bit-identical across engines)
    → per-probe top-``rerank`` cut on the approx score → EXACT cosine
    over survivors → top-k. Quantization drops a true neighbor only
    if it falls out of the rerank pool; with 64-dim vectors and
    rerank=3k the measured pool always contains the exact top-k (the
    pytest pins output equality with ivf_ann_topk at these
    parameters).

    ``corpus_prepared`` — the materialized (vec_id, cell, q, mx,
    embedding, nrm) relation from ivf_quantized_corpus /
    silver.ivf_quantized_layout — replaces the in-plan corpus
    derivation (the probe side is a handful of rows and always stays
    in-plan); pass None to derive everything from ``emb``."""
    cents = _with_norm(
        emb.filter(F.col("vec_id") < n_centroids).select(
            F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cent_vec")
        ),
        "cent_vec",
        "cnrm",
    )
    if corpus_prepared is not None:
        corpus = corpus_prepared.select(
            "vec_id", "embedding",
            F.col("nrm").alias("_nrm"),
            F.col("q").alias("_q"),
            F.col("mx").alias("_mx"),
            "cell",
        )
    else:
        corpus = ivf_quantized_corpus(emb, n_centroids).select(
            "vec_id", "embedding",
            F.col("nrm").alias("_nrm"),
            F.col("q").alias("_q"),
            F.col("mx").alias("_mx"),
            "cell",
        )

    pq = _i8_quantized(
        _with_norm(probes, "probe_vec", "_pn"), "probe_vec", "_pq", "_pmx"
    )
    pc = pq.join(F.broadcast(cents)).select(
        "probe_id", "probe_vec", "_pn", "_pq", "_pmx", "cent_id",
        F.round(
            dot(F.col("probe_vec"), F.col("cent_vec"))
            / (F.col("_pn") * F.col("cnrm")),
            4,
        ).alias("c_cos"),
    )
    wp = Window.partitionBy("probe_id").orderBy(F.desc("c_cos"), F.asc("cent_id"))
    probe_cells = (
        pc.withColumn("cr", F.row_number().over(wp))
        .filter(F.col("cr") <= nprobe)
        .select("probe_id", "probe_vec", "_pn", "_pq", "_pmx",
                F.col("cent_id").alias("cell"))
    )

    qdot = F.aggregate(
        F.zip_with(F.col("_q"), F.col("_pq"), lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    approx = (
        qdot.cast("double") * F.col("_mx") * F.col("_pmx")
    ).alias("approx")
    cand = corpus.join(F.broadcast(probe_cells), "cell").select(
        "probe_id",
        F.col("vec_id").alias("neighbor_id"),
        "embedding", "_nrm", "probe_vec", "_pn",
        approx,
    )
    wa = Window.partitionBy("probe_id").orderBy(
        F.desc("approx"), F.asc("neighbor_id")
    )
    pool = (
        cand.withColumn("ar", F.row_number().over(wa))
        .filter(F.col("ar") <= rerank)
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        pool.select(
            "probe_id",
            "neighbor_id",
            F.round(
                dot(F.col("embedding"), F.col("probe_vec"))
                / (F.col("_nrm") * F.col("_pn")),
                4,
            ).alias("cos_sim"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("probe_id", "neighbor_id", "cos_sim", "rank")
    )


# ---------------------------------------------------------------------------
# Product quantization (round 10): PQ codebooks + ADC top-k — the
# billion-scale ANN compression standard (Jégou et al., "Product
# Quantization for Nearest Neighbor Search"): the vector is split into
# m subspaces, each quantized against its own small codebook, and the
# approximate score is a sum of per-subspace table lookups — the scan
# reads m small ints per vector instead of dim floats.
# ---------------------------------------------------------------------------


def _argmin_code(sv_col: F.Column) -> F.Column:
    """Nearest-codeword id from the broadcast ``_cbs`` row (an
    array_sort'ed array of (cid, cv) structs): array_min over
    (l2, cid) structs — lexicographic struct ordering gives lowest
    squared-L2, ties broken toward the LOWEST cid — the same rule the
    oracle's ROW_NUMBER(ORDER BY l2 ASC, cid ASC) uses."""
    scored = F.transform(
        F.col("_cbs"),
        lambda c: F.struct(
            F.aggregate(
                F.zip_with(sv_col, c["cv"], lambda a, b: (a - b) * (a - b)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("l2"),
            c["cid"].alias("cid"),
        ),
    )
    return F.array_min(scored)["cid"]


def pq_codebooks(emb: DataFrame, m: int = 8, sub: int = 8,
                 ks: int = 16, round_dp: int = 6) -> DataFrame:
    """Deterministic PQ codebook fit → (j, cid, cv): for each of the
    ``m`` subspaces (dims [j·sub, (j+1)·sub)), ``ks`` codewords from
    ONE Lloyd round of squared-L2 k-means over the even-vec_id sample
    — the same deterministic-and-SQL-expressible recipe as
    kmeans_centroids (init = first ``ks`` corpus subvectors by
    vec_id; means rounded to ``round_dp`` so cross-engine double
    summation order cannot break parity; codewords whose cell loses
    every sample member drop out identically on both engines). Fully
    lazy — no action at build time; operators/silver.pq_codebook_layout
    materializes the fitted table once per embeddings mtime."""
    base = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("e"),
    )
    frames = []
    for j in range(m):
        s = base.select(
            "vec_id", F.slice("e", j * sub + 1, sub).alias("sv")
        )
        init = s.filter(F.col("vec_id") < ks).select(
            F.col("vec_id").alias("cid"), F.col("sv").alias("cv")
        )
        cb_row = init.agg(
            F.array_sort(F.collect_list(F.struct("cid", "cv"))).alias("_cbs")
        )
        assigned = (
            s.filter(F.col("vec_id") % 2 == 0)
            .join(F.broadcast(cb_row))
            .select("sv", _argmin_code(F.col("sv")).alias("cell"))
        )
        means = (
            assigned.select("cell", F.posexplode("sv").alias("pos", "val"))
            .groupBy("cell", "pos")
            .agg(F.round(F.avg("val"), round_dp).alias("mv"))
        )
        frames.append(
            means.groupBy("cell")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "mv"))),
                    lambda t: t["mv"],
                ).alias("cv")
            )
            .select(F.lit(j).alias("j"), F.col("cell").alias("cid"), "cv")
        )
    out = frames[0]
    for fr in frames[1:]:
        out = out.unionByName(fr)
    return out


def pq_codes(emb: DataFrame, codebooks: DataFrame, m: int = 8,
             sub: int = 8) -> DataFrame:
    """PQ-encode the corpus → (vec_id, codes, nrm): per vector the
    array of ``m`` nearest-codeword ids (squared-L2 per subspace,
    ties toward the lowest cid) plus the true L2 norm the ADC score
    normalizes by. This narrow relation IS what a deployed PQ store
    scans — m small ints + one double per vector; the full-precision
    embedding is touched only for rerank survivors (pq_adc_topk
    joins it back by vec_id)."""
    cb_row = (
        codebooks.groupBy("j")
        .agg(F.array_sort(F.collect_list(F.struct("cid", "cv"))).alias("cbj"))
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("j", "cbj"))),
                lambda t: t["cbj"],
            ).alias("_allcb")
        )
    )
    base = _with_norm(
        emb.select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias("e"),
        ),
        "e",
        "nrm",
    )

    def code_j(jj: int) -> F.Column:
        sv = F.slice(F.col("e"), jj * sub + 1, sub)
        scored = F.transform(
            F.element_at(F.col("_allcb"), jj + 1),
            lambda c: F.struct(
                F.aggregate(
                    F.zip_with(sv, c["cv"], lambda a, b: (a - b) * (a - b)),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ).alias("l2"),
                c["cid"].alias("cid"),
            ),
        )
        return F.array_min(scored)["cid"]

    return (
        base.join(F.broadcast(cb_row))
        .select(
            "vec_id",
            F.array(*[code_j(j).cast("int") for j in range(m)]).alias("codes"),
            "nrm",
        )
    )


def pq_codes_apply_delta(stored_codes: DataFrame, codebooks: DataFrame,
                         new_emb: DataFrame, m: int = 8,
                         sub: int = 8) -> DataFrame:
    """INCREMENTAL maintenance of the PQ code corpus under an
    arriving shard (round 12): encode ONLY the shard against the
    stored (frozen) codebooks — pq_codes already takes the model as
    a frame, so the delta is literally encode-shard + append. Same
    contract as ivf_assign_apply_delta: encoding under a broadcast
    model is row-local (one codegen pass, zero corpus work), refit
    (pq_codebooks) is the rare versioned event. Rebuild equality
    under the same codebooks is definitional; oracle-gated by
    ann_index_maintenance_pq."""
    return stored_codes.unionByName(pq_codes(new_emb, codebooks, m, sub))


def _pq_cb_row(cbs: DataFrame) -> DataFrame:
    """The broadcastable one-row ``_allcb`` frame (array of per-
    subspace codebooks, each an array_sort'ed (cid, cv) struct list)
    every ADC consumer attaches to its probe side — ONE assembly
    shared by pq_adc_topk and ivf_pq_adc_topk so the nested-sort
    layout the adc_j lookups depend on cannot drift."""
    return (
        cbs.groupBy("j")
        .agg(F.array_sort(F.collect_list(F.struct("cid", "cv"))).alias("cbj"))
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("j", "cbj"))),
                lambda t: t["cbj"],
            ).alias("_allcb")
        )
    )


def _adc_pool_rerank(cand: DataFrame, emb: DataFrame, k: int,
                     m: int, sub: int, rerank: int) -> DataFrame:
    """The shared ADC tail: given a candidate frame carrying
    (probe_id, vec_id, codes, nrm, pe, _pn, _allcb), score each
    candidate as the FIXED left-to-right sum of per-subspace
    probe·codeword table lookups (deterministic: never a grouped SUM,
    whose accumulation order differs between engines), round to 4
    decimals, cut the per-probe top-``rerank`` pool with vec_id
    tiebreak, and exact-rerank only the pool against the
    full-precision embeddings. One implementation for both the
    full-corpus scan (pq_adc_topk) and the IVF-pruned scan
    (ivf_pq_adc_topk) — their oracles replay this identical
    expression tree, so the scorer must not fork."""
    def adc_j(jj: int) -> F.Column:
        psub = F.slice(F.col("pe"), jj * sub + 1, sub)
        code = F.element_at(F.col("codes"), jj + 1)
        cw = F.element_at(
            F.filter(
                F.element_at(F.col("_allcb"), jj + 1),
                lambda c: c["cid"] == code,
            ),
            1,
        )["cv"]
        return F.aggregate(
            F.zip_with(psub, cw, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    approx = adc_j(0)
    for j in range(1, m):
        approx = approx + adc_j(j)

    scored = cand.select(
        "probe_id",
        F.col("vec_id").alias("neighbor_id"),
        "pe", "_pn",
        F.round(approx / (F.col("_pn") * F.col("nrm")), 4).alias("approx_cos"),
    )
    wa = Window.partitionBy("probe_id").orderBy(
        F.desc("approx_cos"), F.asc("neighbor_id")
    )
    pool = (
        scored.withColumn("ar", F.row_number().over(wa))
        .filter(F.col("ar") <= rerank)
        .select("probe_id", "neighbor_id", "pe", "_pn")
    )
    full = _with_norm(
        emb.select(
            F.col("vec_id").alias("neighbor_id"),
            F.transform("embedding", lambda x: x.cast("double")).alias("fe"),
        ),
        "fe",
        "_fn",
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        pool.join(full, "neighbor_id")
        .select(
            "probe_id",
            "neighbor_id",
            F.round(
                dot(F.col("fe"), F.col("pe")) / (F.col("_fn") * F.col("_pn")),
                4,
            ).alias("cos_sim"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("probe_id", "neighbor_id", "cos_sim", "rank")
    )


def pq_adc_topk(emb: DataFrame, probes: DataFrame, k: int = 10,
                m: int = 8, sub: int = 8, ks: int = 16,
                rerank: int = 64,
                codes_prepared: DataFrame | None = None,
                codebooks_prepared: DataFrame | None = None) -> DataFrame:
    """PQ top-k with ASYMMETRIC DISTANCE COMPUTATION + exact rerank:
    the candidate scan reads only the (vec_id, codes, nrm) relation —
    m 4-bit codes + a double per vector (32 information bits vs 2048
    raw float bits) — scores every vector as the FIXED-ORDER sum of per-
    subspace probe·codeword dots (the query side stays full
    precision: ADC, not SDC), cuts the per-probe top-``rerank`` pool
    on the rounded approximate cosine, and re-scores only the pool
    against the full-precision embeddings (a broadcast pool-sized
    join — the scan never rereads raw vectors).

    Scale shape: codes scan is linear and embarrassingly parallel
    (probes broadcast), no shuffle before the pool cut; at deployment
    the ADC stage slots in as the in-cell candidate scorer of the IVF
    paths (ivf_ann_topk_quantized's int8 scoring swapped for table
    lookups). The approximate score is deterministic: per-subspace
    dots summed in a FIXED left-to-right order (never a grouped SUM,
    whose accumulation order differs between engines), rounded to 4
    decimals before ranking with vec_id tiebreak — the oracle
    replays the identical expression tree."""
    cbs = codebooks_prepared
    if cbs is None:
        cbs = pq_codebooks(emb, m=m, sub=sub, ks=ks)
    codes = codes_prepared
    if codes is None:
        codes = pq_codes(emb, cbs, m=m, sub=sub)

    pq = _with_norm(
        probes.select(
            "probe_id",
            F.transform("probe_vec", lambda x: x.cast("double")).alias("pe"),
        ),
        "pe",
        "_pn",
    ).join(F.broadcast(_pq_cb_row(cbs)))
    cand = codes.join(F.broadcast(pq))
    return _adc_pool_rerank(cand, emb, k=k, m=m, sub=sub, rerank=rerank)


def ivf_pq_adc_topk(emb: DataFrame, probes: DataFrame, k: int = 10,
                    n_centroids: int = 16, nprobe: int = 4,
                    m: int = 8, sub: int = 8, ks: int = 16,
                    rerank: int = 64,
                    corpus_prepared: DataFrame | None = None,
                    codebooks_prepared: DataFrame | None = None,
                    coarse_probe: int | None = 2
                    ) -> DataFrame:
    """IVF + PQ/ADC composed — the billion-scale deployment shape
    pq_adc_topk's docstring promises (round 11): coarse IVF cell
    prune (``nprobe`` of ``n_centroids`` inverted lists per probe,
    the same argmax-cosine quantizer as ivf_ann_topk) → ADC scan of
    ONLY the probed cells' PQ codes (m 4-bit codewords + a norm per
    vector — the table-lookup scorer replacing ivf_ann_topk_
    quantized's int8 dot) → per-probe top-``rerank`` pool on the
    rounded approximate cosine → exact rerank against full-precision
    embeddings. Expected scan fraction nprobe/n_centroids of an
    already-32x-compressed relation: at 1B vectors and production
    shapes (16k cells, nprobe 64) the candidate scan touches ~0.4%
    of the codes and zero raw vectors.

    Scale shape: centroids, codebooks, and probe cells all broadcast;
    the codes scan is linear with no shuffle before the
    WindowGroupLimit pool cut; the rerank join is pool-sized.
    ``corpus_prepared`` is the composed (vec_id, cell, codes, nrm)
    relation a deployed store materializes columnar — codes stored
    WITH their inverted list (operators/silver.ivf_pq_layout); pass
    None to derive cells + codes in-plan (the oracle-equality
    baseline, registered as ann_ivf_pq_lazy). Determinism matches
    the family: unrounded assignment cosine with lowest-cent_id ties
    (_argmax_cell), rounded probe-cell ranking, fixed-order ADC sum
    rounded to 4 decimals before the vec_id-tiebroken pool cut."""
    cents = _with_norm(
        emb.filter(F.col("vec_id") < n_centroids).select(
            F.col("vec_id").alias("cent_id"),
            F.col("embedding").alias("cent_vec"),
        ),
        "cent_vec", "cnrm",
    )
    cbs = codebooks_prepared
    if cbs is None:
        cbs = pq_codebooks(emb, m=m, sub=sub, ks=ks)
    if corpus_prepared is not None:
        corpus = corpus_prepared
    elif coarse_probe is not None:
        # TWO-LEVEL cell assignment (round 13, default): the corpus
        # scores O(sqrt(n_centroids)) centroids per row via the
        # coarse quantizer — at production codebook sizes (16k+
        # cells) this is the difference between a viable encode and
        # an O(n·k) one. The flat path stays reachable with
        # coarse_probe=None for A/B.
        assign = ivf_assign_with_model(
            emb, cents, n_assign=1, coarse_probe=coarse_probe
        ).select("vec_id", "cell")
        corpus = pq_codes(emb, cbs, m=m, sub=sub).join(assign, "vec_id")
    else:
        cent_row = cents.agg(F.array_sort(
            F.collect_list(F.struct("cent_id", "cent_vec", "cnrm"))
        ).alias("_cents"))
        assign = (
            _with_norm(emb, "embedding", "_nrm")
            .join(F.broadcast(cent_row))
            .select("vec_id",
                    _argmax_cell(F.col("embedding")).alias("cell"))
        )
        corpus = pq_codes(emb, cbs, m=m, sub=sub).join(assign, "vec_id")

    pq = _with_norm(
        probes.select(
            "probe_id",
            F.transform("probe_vec", lambda x: x.cast("double")).alias("pe"),
        ), "pe", "_pn",
    )
    pc = pq.join(F.broadcast(cents)).select(
        "probe_id", "pe", "_pn", "cent_id",
        F.round(dot(F.col("pe"), F.col("cent_vec"))
                / (F.col("_pn") * F.col("cnrm")), 4).alias("c_cos"),
    )
    wp = Window.partitionBy("probe_id").orderBy(F.desc("c_cos"),
                                                F.asc("cent_id"))
    probe_cells = (
        pc.withColumn("cr", F.row_number().over(wp))
        .filter(F.col("cr") <= nprobe)
        .select("probe_id", "pe", "_pn", F.col("cent_id").alias("cell"))
        .join(F.broadcast(_pq_cb_row(cbs)))
    )
    cand = corpus.join(F.broadcast(probe_cells), "cell")
    return _adc_pool_rerank(cand, emb, k=k, m=m, sub=sub, rerank=rerank)
