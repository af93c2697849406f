"""Global physical-plan audit: NO registered query may plan a
cartesian product or a conditional nested-loop join on corpus-sized
data unless it is one of the documented brute-force oracle baselines.
This is the repo-wide guard behind the per-query plan tests — a new
query that accidentally joins on an inequality (Spark silently plans
BroadcastNestedLoopJoin) fails here instead of surfacing at 100 TB.

Conditionless BroadcastNestedLoopJoin is allowed: that is the 1-row
broadcast pattern (window anchor, centroid array, grand-total count) —
corpus × 1 row is linear. A CONDITION on the nested loop means the
join key couldn't hash — the quadratic signature.
"""

from __future__ import annotations

import pytest

from logsdb_spark.registry import REGISTRY, all_queries

from conftest import SF_DIR

all_queries()  # populate REGISTRY (plan modules register on import)

# Documented O(n²)/O(probes×corpus) baselines: their docstrings label
# them oracle ground truth or broadcast-probe scans, and each has a
# registered scale-path counterpart (see COVERAGE.md §2.12).
BRUTE_FORCE_BASELINES = {
    "dedup_ngram_jaccard",      # ground truth for dedup_ngram_lsh
    "dedup_embedding_cosine",   # ground truth for dedup_embedding_ann
    "knn_cosine_bruteforce",    # exact baseline for ann_lsh/ann_ivf
    "gate_ann_lsh_recall",      # quality gate: judges LSH vs the exact baseline
    "gate_dedup_simhash",       # quality gate: judges simhash vs O(n²) truth
    "gate_ngram_lsh_recall",    # quality gate: ngram LSH vs O(n²) truth
    "gate_embedding_ann_linear_recall",  # quality gate: linear IVF vs O(n²)
}


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_no_accidental_quadratic_join(spark, name):
    if name in BRUTE_FORCE_BASELINES:
        pytest.skip("documented brute-force baseline")
    plan = (
        REGISTRY[name]
        .spark_fn(spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan, f"{name}:\n{plan}"
    import re

    for line in plan.splitlines():
        if "BroadcastNestedLoopJoin" in line:
            # Allowed nested-loop forms — both are corpus × 1 row:
            #  (a) conditionless: the bare 1-row broadcast cross join;
            #  (b) conditional, but the condition references an
            #      engineered 1-row column (underscore-prefixed:
            #      _anchor, _cents, _n...) — Catalyst pushed a filter
            #      into the anchor join. A condition over only REAL
            #      columns (e.g. id_a < id_b) means two corpus-sized
            #      sides nested-looping: the quadratic signature.
            bare = re.search(
                r"BroadcastNestedLoopJoin Build(Left|Right), \w+$", line.rstrip()
            )
            cond = line.split(",", 2)[2] if line.count(",") >= 2 else ""
            anchored = re.search(r"(?<![\w])_\w+#", cond)
            assert bare or anchored, (
                f"{name}: corpus-sized nested-loop join\n{line}"
            )


def test_windowed_scan_pushes_time_predicate(spark):
    """The 24 h anchored-window queries must read events ONCE with the
    time predicate in the parquet scan's PushedFilters (row-group/page
    pruning; partition pruning on a date-partitioned production table)
    — reference semantics core.py:60-61, where Postgres serves the same
    predicate from an index. Guards against reintroducing the
    double-scan broadcast-anchor plan on the catalog path. The DEFAULT
    a1 is silver-routed since round 5, so the bronze contract is pinned
    on the monolithic baseline, and the silver default must carry the
    same ts refinement as a pushed row-group filter ON TOP of its
    partition pruning (boundary-day rows still skip at row-group
    granularity)."""
    from logsdb_spark.plans.reference_queries import (
        a1_top_event_types,
        a1_top_event_types_monolithic,
    )

    qe = a1_top_event_types_monolithic(spark, SF_DIR)._jdf.queryExecution()
    plan = qe.executedPlan().toString()
    scans = [ln for ln in plan.splitlines() if "FileScan parquet" in ln]
    ev_scans = [ln for ln in scans if "events" in ln]
    assert len(ev_scans) == 1, f"events scanned {len(ev_scans)}x:\n{plan}"
    assert "PushedFilters: [IsNotNull(ts), GreaterThanOrEqual(ts," in ev_scans[0], (
        f"time predicate not pushed:\n{ev_scans[0]}"
    )

    silver_plan = (
        a1_top_event_types(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
    )
    silver_scans = [
        ln for ln in silver_plan.splitlines()
        if "FileScan parquet" in ln and "/ev_" in ln
    ]
    assert len(silver_scans) == 1, silver_plan
    assert "GreaterThanOrEqual(ts," in silver_scans[0], silver_scans[0]


def test_winnow_kernel_runs_once(spark):
    """dedup_substring_winnow must fingerprint each document EXACTLY
    once: the Arrow winnow kernel (functions/winnow_fast.py — a
    MapInArrow node since the r11 flat-output rewrite, MapInPandas
    before it) appears a single time in the optimized plan and no
    per-gram JVM digest (md5/conv lattice — the r5-r9 formulation
    whose CollapseProject/InferFiltersFromGenerate re-inlining was
    measured at up to 19x the hashing cost) remains anywhere in it."""
    plan = (
        REGISTRY["dedup_substring_winnow"]
        .spark_fn(spark, SF_DIR)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    kernels = plan.count("MapInArrow") + plan.count("MapInPandas")
    assert kernels == 1, (
        f"winnow kernel duplicated {kernels}x:\n{plan}"
    )
    assert "md5" not in plan, f"stale JVM digest path in plan:\n{plan}"


def test_anchor_memoized_per_session_and_dir(spark):
    """table_anchor runs its tiny ts-only aggregate once per
    (session, dataset, source mtime); later windowed-query builds
    reuse the literal, and an in-place table overwrite (new mtime)
    would miss the cache and recompute."""
    import os

    from logsdb_spark.catalog import _source_mtime
    from logsdb_spark.operators import windows as W

    a1 = W.table_anchor(spark, SF_DIR, "events")
    mtime = _source_mtime(os.path.join(SF_DIR, "events.parquet"))
    sub_key = (SF_DIR, "events", "ts")
    per_session = W._ANCHOR_CACHE[spark]
    assert per_session[sub_key] == (mtime, a1)
    # poison the cache: a second call must NOT recompute
    per_session[sub_key] = (mtime, a1.replace(year=1999))
    try:
        assert W.table_anchor(spark, SF_DIR, "events").year == 1999
    finally:
        per_session[sub_key] = (mtime, a1)
    # a STALE mtime must miss (self-invalidation on overwrite)
    per_session[sub_key] = (mtime - 1, a1.replace(year=1999))
    assert W.table_anchor(spark, SF_DIR, "events") == a1


def test_cohort_retention_scans_events_once(spark):
    """cohort_retention must read the (silver) events layout exactly
    ONCE in the final plan. The pre-round-7 broadcast-join form
    scanned it twice — Catalyst rewrites min-over-distinct into a
    direct min over the scan, so the firsts/activity branches never
    shared an exchange, and the duplicate day-directory listing was
    the measured r4→r6 bench drift (0.52 → 1.29 s). The window-min
    form also removes the user-dimension broadcast (unbroadcastable
    at 1e9 users)."""
    df = REGISTRY["cohort_retention"].spark_fn(spark, SF_DIR)
    df.collect()  # finalize AQE so ReusedExchange/scan dedup is real
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    scans = [ln for ln in final.splitlines() if "FileScan parquet" in ln]
    assert len(scans) == 1, f"events scanned {len(scans)}x:\n{final}"
    assert "BroadcastExchange" not in final, final


def test_global_row_number_reuses_one_range_exchange(spark):
    """global_row_number's counts branch and numbering branch must see
    the same range boundaries. No cache pins them: the executed plan
    computes exactly ONE range-partitioning Exchange, the second
    branch reads it back as a ReusedExchange, and no InMemoryTableScan
    appears. (test_global_row_number_matches_sorted_enumerate checks
    the values.)"""
    import re

    from pyspark.sql import functions as F

    from logsdb_spark.operators.ordering import global_row_number

    df = spark.createDataFrame([(i % 7, i) for i in range(50)],
                               "k long, tb long")
    out = global_row_number(df, [F.asc("k"), F.asc("tb")],
                            num_partitions=4)
    out.collect()  # finalize AQE so the reuse is in the executed plan
    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    nodes = [re.sub(r"^[\s:+\-]*(\*\(\d+\) )?", "", ln)
             for ln in final.splitlines()]
    computed = [n for n in nodes if n.startswith("Exchange rangepartitioning")]
    reused = [n for n in nodes
              if n.startswith("ReusedExchange") and "rangepartitioning" in n]
    assert len(computed) == 1, final
    assert len(reused) == 1, final
    assert "InMemoryTableScan" not in plan, plan
