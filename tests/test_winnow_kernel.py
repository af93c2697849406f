"""Differential tests for the batched winnow rolling-hash kernel
(functions/winnow_fast.py): the vectorized batch path must equal the
scalar reference on every edge class, and the Spark operator must
round-trip the kernel's values through Arrow unchanged."""

from __future__ import annotations

import random
import string

from logsdb_spark.functions.winnow_fast import (
    _batch_fps,
    winnow_fps_py,
)

EDGE_TEXTS = [
    None,
    "a",
    "short",
    "  Multiple   spaces\tand\nnewlines  ",
    "x" * 26,   # == k+w-2 for (20,8): scalar fallback path
    "x" * 27,   # == k+w-1: smallest vectorized doc
    "hello world " * 30,
    "abc" * 7,  # repeated content -> duplicate fingerprints collapse
]


def _random_texts(n: int, seed: int = 7) -> list:
    rng = random.Random(seed)
    alphabet = string.ascii_letters + "  \t,.0123456789"
    return [
        "".join(rng.choice(alphabet)
                for _ in range(rng.choice((5, 20, 27, 50, 300, 2000))))
        for _ in range(n)
    ]


def test_batch_matches_scalar_reference():
    texts = EDGE_TEXTS + _random_texts(60)
    for k, w in ((5, 4), (20, 8)):
        got = _batch_fps(texts, k, w)
        for t, g in zip(texts, got):
            want = winnow_fps_py(t, k, w)
            have = None if g is None else [int(x) for x in g]
            assert have == want, (k, w, repr(t)[:60])


def test_fps_sorted_distinct_positive():
    for k, w in ((5, 4), (20, 8)):
        for fps in _batch_fps(_random_texts(30, seed=11), k, w):
            lst = [int(x) for x in fps]
            assert lst == sorted(set(lst))
            assert all(0 <= v < (1 << 62) for v in lst)


def test_spark_operator_roundtrip(spark):
    from logsdb_spark.functions.text import winnow_fingerprints

    texts = EDGE_TEXTS + _random_texts(20, seed=3)
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    rows = {r.doc_id: r.fps
            for r in winnow_fingerprints(df, "doc_id", "text",
                                         k=20, w=8).collect()}
    for i, t in enumerate(texts):
        assert rows[i] == winnow_fps_py(t, 20, 8), repr(t)[:60]


def _jvm_minhash_fold(hashed, n_perm=64):
    """The interpreted JVM higher-order-function MinHash fold that
    functions/minhash_fast.py replaced — kept here as the parity
    oracle. ``hashed`` carries (doc_id, h31 array<long>); returns
    (doc_id, sig). One ``array_min(transform(...))`` per permutation
    constant, folded over a literal array of (a, b) structs."""
    from pyspark.sql import functions as F

    from logsdb_spark.operators.dedup import _M31, _perm_consts

    consts = F.array(*[
        F.struct(F.lit(a).alias("a"), F.lit(b).alias("b"))
        for a, b in (_perm_consts(p) for p in range(n_perm))
    ])
    sig = F.transform(
        consts,
        lambda c: F.array_min(F.transform(
            F.col("h31"),
            lambda h: (h * c["a"] + c["b"]).bitwiseAND(F.lit(_M31)),
        )),
    )
    return hashed.select("doc_id", sig.alias("sig"))


def _jvm_minhash_signatures(shingled):
    from pyspark.sql import functions as F

    from logsdb_spark.operators.dedup import _M31

    return _jvm_minhash_fold(shingled.select(
        "doc_id",
        F.transform("shingles",
                    lambda s: F.xxhash64(s).bitwiseAND(F.lit(_M31))
                    ).alias("h31"),
    ))


def test_minhash_kernel_matches_jvm(spark):
    """minhash_signatures (the Arrow kernel) must be INTEGER-IDENTICAL
    to the JVM fold oracle, including the null/empty-shingle
    degenerations, with and without the shingles carried along."""
    from logsdb_spark.catalog import load_table
    from logsdb_spark.operators.dedup import (
        minhash_signatures,
        shingle_sets,
    )

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    sh = shingle_sets(docs)
    want = sorted((r.doc_id, tuple(r.sig))
                  for r in _jvm_minhash_signatures(sh).collect())
    assert want
    for ks in (False, True):
        got = minhash_signatures(sh, keep_shingles=ks)
        if ks:
            assert got.columns == ["doc_id", "shingles", "sig"]
        assert sorted((r.doc_id, tuple(r.sig))
                      for r in got.collect()) == want

    edge = spark.createDataFrame(
        [(0, None), (1, []), (2, ["x"]), (3, ["a", "b", "a"])],
        "doc_id long, shingles array<string>",
    )
    a = {r.doc_id: r.sig for r in minhash_signatures(edge).collect()}
    b = {r.doc_id: r.sig for r in _jvm_minhash_signatures(edge).collect()}
    assert a == b


def test_minhash_kernel_skips_values_under_null_slots(spark):
    """Arrow lets a null list slot's offsets span garbage values. The
    kernel must read only the values of valid slots: a batch whose null
    middle slot covers two garbage hashes signs exactly like
    [[v0, v1, v2], None, [v5, v6]] under the JVM fold oracle."""
    import numpy as np
    import pyarrow as pa

    from logsdb_spark.functions.minhash_fast import _sign_batch
    from logsdb_spark.operators.dedup import N_PERM, _perm_consts

    v = [1_000_003, 77_777, 2_147_000_001, 3, 5, 123_456_789, 42]
    h31 = pa.ListArray.from_arrays(
        pa.array([0, 3, 5, 7], pa.int32()), pa.array(v, pa.int64()),
        mask=pa.array([False, True, False]),
    )
    batch = pa.RecordBatch.from_arrays(
        [pa.array([0, 1, 2], pa.int64()), h31], names=["doc_id", "h31"])
    consts = [_perm_consts(p) for p in range(N_PERM)]
    out = _sign_batch(batch,
                      np.asarray([a for a, _ in consts], dtype=np.uint64),
                      np.asarray([b for _, b in consts], dtype=np.uint64),
                      keep_shingles=False)
    got = dict(zip(out.column(0).to_pylist(), out.column(1).to_pylist()))

    ref = spark.createDataFrame(
        [(0, v[0:3]), (1, None), (2, v[5:7])], "doc_id long, h31 array<long>")
    want = {r.doc_id: r.sig for r in _jvm_minhash_fold(ref).collect()}
    assert got == want
    assert got[1] == [None] * N_PERM
