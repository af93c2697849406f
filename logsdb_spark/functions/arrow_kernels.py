"""Arrow-batched (applyInPandas) vector kernels — the Python-side twin
of functions/vectors.py, for stages where a vectorized numpy/BLAS pass
beats the interpreted JVM higher-order-function fold.

``cell_prefilter_pairs`` is the candidate stage of every IVF embedding
dedup route; the exact verify behind it stays the JVM ordered fold
(functions/vectors.dot), whose FP operation order matches the DuckDB
oracle's ``list_sum`` bit-for-bit. The round-7 Arrow verify kernel
that re-implemented that fold in numpy lost 1.7x at 30x candidate
volume and was deleted; the fold it mirrored is the only verify.

NO ``from __future__ import annotations`` here (Arrow-facing modules
keep real annotation objects by repo convention).
"""

import numpy as np
import pandas as pd


def cell_prefilter_pairs(assigned, threshold, id_col="vec_id",
                         vec_col="embedding", nrm_col="nrm",
                         cell_col="cell", block_rows=2048):
    """Per-cell BLAS candidate prefilter for the IVF embedding dedup:
    one fp64 GEMM per cell scores EVERY intra-cell pair at once and
    keeps those whose cosine clears ``threshold`` minus a conservative
    guard; the canonical JVM ordered-fold verify then re-scores only
    the survivors, so the final output is value-identical to verifying
    every candidate (_verify_cosine_pairs is unchanged downstream).

    Why this beats the candidate-join shape at scale: the old verify
    joined each (id_a, id_b) candidate to BOTH full vectors — shuffle
    and fold work proportional to CANDIDATE volume (n·cell_size). Here
    the vectors move once, grouped by cell (volume n·n_assign rows),
    and the pair space is scored inside BLAS at memory-bandwidth
    speed; what reaches the join machinery afterwards is only the
    ~answer-sized survivor set.

    Guard derivation: a pair passes the final filter iff
    round(fold_cos, 4) >= t, and for t on the 1e-4 grid that is
    fold_cos >= t - 0.5e-4 (Spark HALF_UP). The GEMM dot differs from
    the ordered fold only in summation order — |blas - fold| <=
    d·eps·|x||y| ~ 1e-14 for 64-dim unit-scale vectors — so keeping
    blas_cos >= t - 0.5e-4 - 1e-9 can drop no true pair. False
    positives in the guard band are discarded by the exact re-verify.

    The GEMM is row-blocked (``block_rows``) so a skewed cell costs
    bounded memory (block x cell score matrix), and positions are
    mapped to ids with min/max so id_a < id_b holds regardless of
    intra-cell order. Precondition: vectors are non-null
    fixed-dimension arrays (np.stack fails the task on a NULL).
    """
    thr = float(threshold) - 0.5e-4 - 1e-9

    def emit(pdf):
        m = len(pdf)
        if m < 2:
            return pd.DataFrame({"id_a": np.zeros(0, np.int64),
                                 "id_b": np.zeros(0, np.int64)})
        x = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
        nr = pdf[nrm_col].to_numpy().astype(np.float64)
        ids = pdf[id_col].to_numpy().astype(np.int64)
        a_out, b_out = [], []
        cols = np.arange(m)
        for s in range(0, m, block_rows):
            e = min(s + block_rows, m)
            scores = (x[s:e] @ x.T) / np.outer(nr[s:e], nr)
            mask = scores >= thr
            # strict upper triangle in GLOBAL row order: j > i
            mask &= cols[None, :] > (np.arange(s, e))[:, None]
            ri, ci = np.nonzero(mask)
            ia, ib = ids[ri + s], ids[ci]
            a_out.append(np.minimum(ia, ib))
            b_out.append(np.maximum(ia, ib))
        return pd.DataFrame({"id_a": np.concatenate(a_out),
                             "id_b": np.concatenate(b_out)})

    return (
        assigned.select(cell_col, id_col, vec_col, nrm_col)
        .groupBy(cell_col)
        .applyInPandas(emit, "id_a long, id_b long")
        .distinct()
    )
