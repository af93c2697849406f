"""Plan-level verification of the scale techniques (operators/scale.py):
bucketed joins must eliminate the shuffle, salted joins must partition
on (key, salt) and return exactly the plain-join result.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from logsdb_spark.catalog import load_table
from logsdb_spark.operators.scale import bucketed_join, salted_join, write_bucketed

from conftest import SF_DIR


@pytest.fixture()
def no_broadcast(spark):
    """Force shuffle joins so plan assertions see the exchange (or its
    absence) rather than a broadcast."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_aqe = spark.conf.get("spark.sql.adaptive.autoBroadcastJoinThreshold", None)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    yield
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    if old_aqe is not None:
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", old_aqe)


def test_bucketed_join_has_no_exchange(spark, tmp_path, no_broadcast):
    """lineitem⋈orders on orderkey: with both sides bucketed by the key,
    the physical plan must contain NO Exchange — the co-located buckets
    are read directly into the sort-merge join."""
    li = load_table(spark, SF_DIR, "lineitem").select("l_orderkey", "l_quantity")
    orders = load_table(spark, SF_DIR, "orders").select("o_orderkey", "o_totalprice")
    write_bucketed(
        li.withColumnRenamed("l_orderkey", "orderkey"),
        "t_li_bucketed", "orderkey", 8, str(tmp_path / "li"),
    )
    write_bucketed(
        orders.withColumnRenamed("o_orderkey", "orderkey"),
        "t_ord_bucketed", "orderkey", 8, str(tmp_path / "ord"),
    )
    try:
        joined = bucketed_join(spark, "t_li_bucketed", "t_ord_bucketed", "orderkey")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan, plan
        # and it computes the same thing as the plain join
        plain = li.join(orders, li.l_orderkey == orders.o_orderkey).count()
        assert joined.count() == plain
    finally:
        spark.sql("DROP TABLE IF EXISTS t_li_bucketed")
        spark.sql("DROP TABLE IF EXISTS t_ord_bucketed")


def test_salted_join_matches_plain_join(spark, no_broadcast):
    """Salted join result must equal the unsalted join row-for-row, and
    its exchange must partition on (key, _salt)."""
    li = load_table(spark, SF_DIR, "lineitem").select("l_orderkey", "l_quantity")
    orders = load_table(spark, SF_DIR, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_totalprice"
    )
    salted = salted_join(li, orders, "l_orderkey", n_salts=4)
    plain = li.join(orders, "l_orderkey")

    plan = salted._jdf.queryExecution().executedPlan().toString()
    assert "_salt" in plan and "hashpartitioning(l_orderkey" in plan, plan

    got = sorted(tuple(r) for r in salted.collect())
    want = sorted(tuple(r) for r in plain.collect())
    assert got == want


def test_date_partitioned_sink_prunes(spark, tmp_path):
    """The ingest sinks partition by event date so the daily-report
    window (P2) becomes a partition-pruning scan: the plan must show a
    PartitionFilters entry and read only the matching partition."""
    from logsdb_spark.catalog import load_table

    ev = load_table(spark, SF_DIR, "events").withColumn(
        "event_date", F.to_date("ts")
    )
    path = str(tmp_path / "events_partitioned")
    ev.write.partitionBy("event_date").parquet(path)

    pt = spark.read.parquet(path)
    one_day = pt.filter(F.col("event_date") == "2024-01-02")
    plan = one_day._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(event_date" in plan, plan
    # pruned scan reads exactly the partition's rows
    want = ev.filter(F.to_date("ts") == "2024-01-02").count()
    assert want > 0
    assert one_day.count() == want


def test_last_day_silver_partition_prunes(spark):
    """The DEFAULT P2 path over the date-partitioned silver
    (a1_top_event_types et al → operators/silver.last_day_silver)
    must plan the daily window as PARTITION pruning: the executed plan's
    scan carries a PartitionFilters entry on event_date, and the silver
    window returns exactly the rows the bronze literal-anchor window
    (last_day_table) returns."""
    from logsdb_spark.operators.silver import last_day_silver
    from logsdb_spark.operators.windows import last_day_table

    win = last_day_silver(spark, SF_DIR)
    plan = win._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan, plan
    pf = plan.split("PartitionFilters")[1].split("]")[0]
    assert "event_date" in pf and ">=" in pf, plan
    got = sorted(tuple(r) for r in win.select("event_id", "ts").collect())
    want = sorted(
        tuple(r) for r in last_day_table(spark, SF_DIR).select("event_id", "ts").collect()
    )
    assert got == want and len(got) > 0


def test_last_day_silver_partition_prunes_routed_set(spark):
    """Every DEFAULT registry entry of the P2 windowed family must show
    the PartitionFilters pruning in its executed plan — the round-5
    routing contract: the silver layout is the path `queries()` runs,
    not an opt-in sibling. The monolithic baseline must NOT (it is the
    row-group-pruning comparison point)."""
    from logsdb_spark.registry import all_queries

    queries = all_queries()
    routed = [
        "a1_top_event_types",
        "a2_grand_totals",
        "a3_top_users",
        "a4_window_empty_check",
        "o2_stable_chronological",
        "o2_total_order_ranged",
    ]
    for name in routed:
        plan = queries[name](spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan, f"{name}: no PartitionFilters\n{plan}"
        pf = plan.split("PartitionFilters")[1].split("]")[0]
        assert "event_date" in pf and ">=" in pf, f"{name}\n{plan}"
    mono = queries["a1_top_event_types_monolithic"](spark, SF_DIR)
    mono_plan = mono._jdf.queryExecution().executedPlan().toString()
    assert "event_date" not in mono_plan, mono_plan


def test_daily_queries_route_through_silver(spark):
    """The timeseries DAILY queries read the date-partitioned silver and
    take their day key from the event_date PARTITION column — the scan's
    ReadSchema must not contain ts for queries that only need the day
    (gap_fill / locf / anomaly group on event_date; ts never leaves the
    directory metadata), and every routed plan's scan location must be
    the silver layout, not the bronze events.parquet."""
    from logsdb_spark.registry import all_queries

    queries = all_queries()
    for name in ("gap_fill_daily_counts", "locf_daily_values",
                 "daily_ohlc_bars", "anomaly_daily_counts",
                 "funnel_daily_conversion", "funnel_latency_quantiles",
                 "cohort_retention", "event_type_affinity",
                 "affinity_lift"):
        plan = queries[name](spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
        assert "/ev_" in plan, f"{name} does not scan the silver layout\n{plan}"
        assert "events.parquet" not in plan, f"{name} still scans bronze\n{plan}"
    # day-only queries: ts must be pruned out of the silver scan
    gap = queries["gap_fill_daily_counts"](spark, SF_DIR)
    gap_plan = gap._jdf.queryExecution().executedPlan().toString()
    read_schemas = [
        seg.split("<", 1)[1].split(">", 1)[0]
        for seg in gap_plan.split("ReadSchema: struct")[1:]
    ]
    assert read_schemas and all("ts:" not in rs for rs in read_schemas), gap_plan


def test_q3_bucketed_joins_without_exchange(spark, no_broadcast):
    """The DEFAULT tpch_q3_shipping_priority (bucketed-routed since
    round 6) routes the fact-fact spine through the bucketed orderkey
    layout: the executed plan must contain a SortMergeJoin and ZERO
    hash-partitioning Exchanges — the orderkey shuffle is paid at
    layout time, and even the (orderkey, orderdate) aggregation reuses
    the bucket partitioning (alias-aware propagation). The only
    Exchanges allowed are the 1-row cut / customer broadcasts.
    Results must equal the monolithic bronze baseline."""
    from logsdb_spark.registry import all_queries

    queries = all_queries()
    bucketed = queries["tpch_q3_shipping_priority"](spark, SF_DIR)
    plan = bucketed._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan, plan
    assert "Exchange hashpartitioning" not in plan, plan
    plain = queries["tpch_q3_monolithic"](spark, SF_DIR)
    assert [tuple(r) for r in bucketed.collect()] == [
        tuple(r) for r in plain.collect()
    ]


def test_q18_bucketed_joins_without_exchange(spark, no_broadcast):
    """The DEFAULT tpch_q18_large_orders (bucketed-routed since round
    6): the per-order quantity aggregate reuses lineitem's bucket
    partitioning and the orders join reuses orders' — zero fact-scale
    hash Exchanges, results equal the monolithic baseline."""
    from logsdb_spark.registry import all_queries

    queries = all_queries()
    bucketed = queries["tpch_q18_large_orders"](spark, SF_DIR)
    plan = bucketed._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan, plan
    assert "Exchange hashpartitioning" not in plan, plan
    plain = queries["tpch_q18_monolithic"](spark, SF_DIR)
    assert [tuple(r) for r in bucketed.collect()] == [
        tuple(r) for r in plain.collect()
    ]


def test_q4_q12_q21_bucketed_join_without_exchange(spark, no_broadcast):
    """Round-6 promotion: the DEFAULT q4/q12/q21 names route through
    the bucketed orderkey layout and must join orders⋈lineitem
    bucket-locally — NO Exchange may touch a fact-scale relation. The
    only hash Exchanges allowed are the post-join dimension-sized
    aggregates (5 priority rows / supplier names); those are
    recognizable by partitioning on the agg key, not the order key.
    Results must equal the monolithic baselines row-for-row."""
    from logsdb_spark.registry import all_queries

    queries = all_queries()
    for bkt, plain in (
        ("tpch_q4_order_priority", "tpch_q4_monolithic"),
        ("tpch_q12_late_shipments", "tpch_q12_monolithic"),
        ("tpch_q21_waiting_suppliers", "tpch_q21_monolithic"),
    ):
        df = queries[bkt](spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan, f"{bkt}\n{plan}"
        assert "Exchange hashpartitioning(l_orderkey" not in plan, f"{bkt}\n{plan}"
        assert "Exchange hashpartitioning(o_orderkey" not in plan, f"{bkt}\n{plan}"
        got = [tuple(r) for r in df.collect()]
        want = [tuple(r) for r in queries[plain](spark, SF_DIR).collect()]
        assert got == want and len(got) > 0, bkt


def test_q21_aggregates_without_expand(spark):
    """The double COUNT(DISTINCT) in q21 is hand-lowered to a two-level
    aggregation; Spark's default multi-distinct plan inserts an Expand
    that doubles every shuffled row — this pins that it stays gone."""
    from logsdb_spark.plans.tpch import tpch_q21_waiting_suppliers

    plan = (
        tpch_q21_waiting_suppliers(spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Expand" not in plan, plan


def test_approx_count_distinct_within_tolerance(spark):
    """HyperLogLog++ is the 100 TB distinct-count path (mergeable
    fixed-size sketch vs a full shuffle of distinct values). Pin that
    at the default rsd=5% the estimate lands within 5% of exact on a
    real column, and that a tightened rsd never does worse."""
    from pyspark.sql import functions as F

    from logsdb_spark.catalog import load_table

    ev = load_table(spark, SF_DIR, "events")
    exact = ev.select("user_id").distinct().count()
    approx_default, approx_tight = ev.agg(
        F.approx_count_distinct("user_id").alias("a"),
        F.approx_count_distinct("user_id", rsd=0.01).alias("t"),
    ).first()
    assert abs(approx_default - exact) <= 0.05 * exact
    assert abs(approx_tight - exact) <= 0.02 * exact


def test_approx_percentile_within_tolerance(spark):
    """percentile_approx is the 100 TB quantile path (mergeable
    bounded-state sketch vs buffering each group - the trade the
    event_value_quantiles docstring promises). Pin its value inside
    the exact-percentile band at p +/- 5*(1/accuracy): the sketch's
    rank guarantee is ~1/accuracy, widened 5x because the sketch
    returns sample values while exact percentile interpolates
    between ranks."""
    from pyspark.sql import functions as F

    from logsdb_spark.catalog import load_table

    ev = load_table(spark, SF_DIR, "events")
    eps = 5 / 1000
    for p in (0.5, 0.9, 0.99):
        approx, lo, hi = ev.agg(
            F.percentile_approx("value", p, 1000).alias("a"),
            F.expr(f"percentile(value, {max(p - eps, 0.0)})").alias("lo"),
            F.expr(f"percentile(value, {min(p + eps, 1.0)})").alias("hi"),
        ).first()
        assert lo <= approx <= hi, (p, lo, approx, hi)


def test_total_order_ranged_avoids_single_partition_fact_window(spark):
    """o2_total_order_ranged must rank via range partitions: the ONLY
    Exchange SinglePartition allowed in its plan is the one feeding
    the #partitions-row offset prefix-sum; the events-side window must
    be partitioned (by _pid), never global."""
    from logsdb_spark.plans.extensions import (
        corpus_shuffle_ranged,
        customer_balance_ranking_ranged,
    )
    from logsdb_spark.plans.reference_queries import o2_total_order_ranged

    for fn in (
        o2_total_order_ranged,
        customer_balance_ranking_ranged,
        corpus_shuffle_ranged,
    ):
        df = fn(spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        # Every ranking window must be partition-keyed (_pid). The
        # plan's remaining SinglePartition exchanges feed
        # 1-row/#partitions-row aggregates (max-ts anchor, offset
        # prefix sum, total count) — bounded by construction, not by
        # data size. The baseline queries, by contrast, rank through
        # an unpartitioned window.
        ranking = [
            ln for ln in plan.splitlines()
            if "Window " in ln and "row_number()" in ln
        ]
        assert ranking, f"{fn.__name__}: {plan}"
        assert all("_pid" in ln for ln in ranking), (
            f"{fn.__name__}: fact-side row_number window is not "
            "partition-keyed:\n" + "\n".join(ranking)
        )
        # and the big side feeds a rangepartitioning repartition
        assert "rangepartitioning(" in plan, f"{fn.__name__}: {plan}"
        assert "REPARTITION_BY_COL" in plan, f"{fn.__name__}: {plan}"


def test_ivf_cell_partitioned_layout_prunes(spark, tmp_path):
    """The production IVF layout promised by ivf_ann_topk's docstring:
    corpus written partitioned by its assigned cell, so an nprobe cell
    lookup is a file-pruning scan (PartitionFilters on cell), not a
    full corpus read — the step that makes ANN search sublinear in
    files touched, not just rows scored."""
    from logsdb_spark.catalog import load_table
    from logsdb_spark.functions.vectors import dot, norm
    from logsdb_spark.operators.similarity import _with_norm

    emb = load_table(spark, SF_DIR, "embeddings")
    # same deterministic coarse quantizer as ivf_ann_topk / the
    # dedup_embedding_ann oracle: first 16 vectors are centroids
    cents = _with_norm(
        emb.filter(F.col("vec_id") < 16).select(
            F.col("vec_id").alias("cent_id"),
            F.col("embedding").alias("cent_vec"),
        ),
        "cent_vec",
        "cnrm",
    )
    cent_row = cents.agg(
        F.array_sort(
            F.collect_list(F.struct("cent_id", "cent_vec", "cnrm"))
        ).alias("_cents")
    )
    scored = F.transform(
        F.col("_cents"),
        lambda c: F.struct(
            (-(dot(F.col("embedding"), c["cent_vec"]) / (F.col("_nrm") * c["cnrm"]))).alias("negcos"),
            c["cent_id"].alias("cent_id"),
        ),
    )
    assigned = (
        _with_norm(emb, "embedding", "_nrm")
        .join(F.broadcast(cent_row))
        .select(
            "vec_id",
            "embedding",
            F.element_at(F.array_sort(scored), 1)["cent_id"].alias("cell"),
        )
    )
    path = str(tmp_path / "embeddings_ivf")
    assigned.write.partitionBy("cell").parquet(path)

    pt = spark.read.parquet(path)
    probe_cells = pt.filter(F.col("cell").isin(3, 7))
    plan = probe_cells._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan.split(
        "PartitionFilters"
    )[1].split("]")[0], plan
    want = assigned.filter(F.col("cell").isin(3, 7)).count()
    assert want > 0
    assert probe_cells.count() == want


def test_runtime_bloom_filter_prunes_fact_join(spark, no_broadcast):
    """Runtime Bloom-filter join pruning — the AQE-era fact⋈filtered-dim
    optimization: the selective side builds a bloom_filter_agg that is
    pushed into the big side's scan as might_contain, so most fact rows
    drop BEFORE the shuffle. At 100 TB this is the difference between
    shuffling the whole fact table and shuffling the ~matching slice.
    Thresholds are lowered to make the tiny local tables eligible; on a
    real cluster the size stats qualify on their own."""
    from logsdb_spark.catalog import load_table

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
    }
    old = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        li = load_table(spark, SF_DIR, "lineitem").select(
            "l_orderkey", "l_quantity"
        )
        orders = load_table(spark, SF_DIR, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        ).select("o_orderkey")
        joined = li.join(orders, li.l_orderkey == orders.o_orderkey)
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "bloom_filter_agg" in plan, plan
        assert "might_contain" in plan, plan
        # and the filter is semantically free: same rows as without it
        for k, v in old.items():
            spark.conf.set(k, v)
        plain = li.join(orders, li.l_orderkey == orders.o_orderkey).count()
        for k, v in confs.items():
            spark.conf.set(k, v)
        assert joined.count() == plain
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_approx_distinct_users_query_within_tolerance(spark):
    """The registered approx_distinct_users query (rows-only at the
    driver by design — sketches are engine-specific) is gated here:
    every per-type estimate at rsd=2% lands within 5% of the exact
    per-type distinct count."""
    from pyspark.sql import functions as F

    from logsdb_spark.catalog import load_table
    from logsdb_spark.registry import all_queries

    got = {
        r["event_type"]: r["approx_users"]
        for r in all_queries()["approx_distinct_users"](spark, SF_DIR).collect()
    }
    exact = {
        r["event_type"]: r["x"]
        for r in load_table(spark, SF_DIR, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("x"))
        .collect()
    }
    assert set(got) == set(exact)
    for t, est in got.items():
        assert abs(est - exact[t]) <= max(1, 0.05 * exact[t]), (t, est, exact[t])


def test_compact_parquet_reduces_files_preserves_rows(spark, tmp_path):
    """Compaction: a many-small-files directory rewrites to the
    byte-derived target count with identical row content."""
    from logsdb_spark.catalog import load_table
    from logsdb_spark.operators.scale import compact_parquet

    src, dst = tmp_path / "frag", tmp_path / "compact"
    ev = load_table(spark, SF_DIR, "events")
    ev.repartition(24).write.parquet(str(src))
    import glob

    assert len(glob.glob(str(src / "*.parquet"))) >= 24

    n_files = compact_parquet(spark, str(src), str(dst), target_file_bytes=1 << 30)
    assert n_files == 1
    before = ev.count()
    after = spark.read.parquet(str(dst)).count()
    assert before == after


def test_incremental_rollup_matches_full_recompute(spark, tmp_path):
    """Continuous-aggregate maintenance: applying batches incrementally
    (including a replayed refresh) must equal the from-scratch daily
    aggregate of all events, and a no-op refresh applies 0 batches."""
    from pyspark.sql import functions as F

    from logsdb_spark.catalog import load_table
    from logsdb_spark.operators.rollup import (
        read_rollup,
        refresh_daily_rollup,
    )

    events_dir, rollup_dir = str(tmp_path / "events"), str(tmp_path / "rollup")
    ev = load_table(spark, SF_DIR, "events").withColumn(
        "event_date", F.to_date("ts")
    )
    # two ingest batches, split by event parity (overlapping days —
    # the merge must re-aggregate, not append)
    for bid, pred in ((0, F.col("event_id") % 2 == 0), (1, F.col("event_id") % 2 == 1)):
        (
            ev.filter(pred)
            .withColumn("_batch_id", F.lit(bid))
            .write.mode("append")
            .partitionBy("event_date", "_batch_id")
            .parquet(events_dir)
        )
        assert refresh_daily_rollup(spark, events_dir, rollup_dir) == 1

    got = {
        (str(r.event_date), r.event_type): (r.n_events, r.total_value)
        for r in read_rollup(spark, rollup_dir).collect()
    }
    vi = F.floor(F.col("value") * 10000 + F.lit(0.5)).cast("long")
    want = {
        (str(r.event_date), r.event_type): (r.n_events, r.total_value)
        for r in ev.select("event_date", "event_type", vi.alias("vi"))
        .groupBy("event_date", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum("vi") / F.lit(10000.0)).alias("total_value"),
        )
        .collect()
    }
    assert got == want
    # idempotent: nothing new to apply, content unchanged
    assert refresh_daily_rollup(spark, events_dir, rollup_dir) == 0
    assert {
        (str(r.event_date), r.event_type): (r.n_events, r.total_value)
        for r in read_rollup(spark, rollup_dir).collect()
    } == want


def test_write_with_metrics_audits_in_one_pass(spark, tmp_path):
    """Observation metrics must equal an independent recount of what
    was written — the write-audit-publish numbers come from the write
    job itself, no second scan."""
    from pyspark.sql import functions as F

    from logsdb_spark.catalog import load_table
    from logsdb_spark.operators.observability import write_with_metrics

    ev = load_table(spark, SF_DIR, "events").select("event_id", "value")
    path = str(tmp_path / "audited")
    got = write_with_metrics(ev, path, value_col="value")

    back = spark.read.parquet(path)
    want_rows = back.count()
    want_null, want_sum = back.agg(
        F.sum(F.col("value").isNull().cast("long")),
        F.sum("value"),
    ).first()
    assert got["n_rows"] == want_rows
    assert got["n_null"] == (want_null or 0)
    assert abs(got["value_sum"] - want_sum) < 1e-6


def test_approx_quantiles_within_rank_tolerance(spark):
    """percentile_approx at accuracy 10000 must land within a small
    VALUE neighborhood of the exact percentile: rank error 1e-4 of
    ~20k rows is ~2 ranks, so compare against the exact percentile
    computed at p ± 0.01 and require the estimate inside that value
    bracket per (event_type, p)."""
    from logsdb_spark.plans.extensions import approx_quantiles_value

    approx = {
        r.event_type: r
        for r in approx_quantiles_value(spark, SF_DIR).collect()
    }
    from logsdb_spark.catalog import load_table
    from pyspark.sql import functions as F

    exact = load_table(spark, SF_DIR, "events").groupBy("event_type").agg(
        *[
            F.expr(f"percentile(value, {p})").alias(f"e{int(p*100)}")
            for p in (0.49, 0.51, 0.89, 0.91, 0.98, 1.0)
        ]
    ).collect()
    for row in exact:
        got = approx[row.event_type]
        assert row.e49 <= got.p50 <= row.e51, (row.event_type, "p50")
        assert row.e89 <= got.p90 <= row.e91, (row.event_type, "p90")
        assert row.e98 <= got.p99 <= row.e100, (row.event_type, "p99")


def test_bucketed_layout_registers_without_rewrite(spark):
    """A session that finds the bucketed layout already on disk must
    REGISTER it (metadata-only DDL), not rewrite it: the parquet part
    files' mtimes are unchanged across a sibling-session call, and the
    sibling reads identical rows through the registered table."""
    import os

    from logsdb_spark.operators.silver import (
        _SILVER_ROOT,
        bucketed_orderkey_tables,
    )

    o_name, l_name = bucketed_orderkey_tables(spark, SF_DIR)
    loc = os.path.join(_SILVER_ROOT, l_name)
    before = {
        f: os.stat(os.path.join(loc, f)).st_mtime_ns
        for f in os.listdir(loc) if f.startswith("part-")
    }
    assert before, "layout has no part files"

    sibling = spark.newSession()
    o2, l2 = bucketed_orderkey_tables(sibling, SF_DIR)
    assert (o2, l2) == (o_name, l_name)
    after = {
        f: os.stat(os.path.join(loc, f)).st_mtime_ns
        for f in os.listdir(loc) if f.startswith("part-")
    }
    assert after == before, "sibling session rewrote the layout"
    assert sibling.table(l2).count() == spark.table(l_name).count()


def test_kmeans_centroid_layout_matches_lazy_and_evicts_stale(spark, tmp_path):
    """The materialized codebook layout must (a) hold EXACTLY the lazy
    fit's rows — it is one untimed execution of the same deterministic
    plan, and consuming queries' oracles replay that plan in SQL — and
    (b) self-invalidate on a source mtime bump, evicting the stale fit
    dir (the silver/bucketed/blob-layout contract)."""
    import hashlib
    import os
    import shutil

    from logsdb_spark.catalog import load_table
    from logsdb_spark.operators.silver import (
        _SILVER_ROOT,
        kmeans_centroid_layout,
    )
    from logsdb_spark.operators.similarity import kmeans_centroids

    sfd = str(tmp_path)
    shutil.copy(
        "/root/testdata/sf0.001/embeddings.parquet",
        os.path.join(sfd, "embeddings.parquet"),
    )

    got = sorted(
        (r.cent_id, tuple(r.cent_vec), r.cnrm)
        for r in kmeans_centroid_layout(spark, sfd, k=8).collect()
    )
    want = sorted(
        (r.cent_id, tuple(float(x) for x in r.cent_vec), r.cnrm)
        for r in kmeans_centroids(
            load_table(spark, sfd, "embeddings"), k=8
        ).collect()
    )
    assert got == want and len(got) > 0

    digest = hashlib.sha1(os.path.abspath(sfd).encode()).hexdigest()[:12]

    def layout_dirs():
        return sorted(
            d for d in os.listdir(_SILVER_ROOT)
            if d.startswith(f"kmc_8_2_2_6_{digest}_") and ".tmp." not in d
        )

    before = layout_dirs()
    assert len(before) == 1

    # bump the source mtime: next build writes a NEW dir, evicts stale
    st = os.stat(os.path.join(sfd, "embeddings.parquet"))
    os.utime(os.path.join(sfd, "embeddings.parquet"),
             ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
    again = sorted(
        (r.cent_id, tuple(r.cent_vec), r.cnrm)
        for r in kmeans_centroid_layout(spark, sfd, k=8).collect()
    )
    assert again == want
    after = layout_dirs()
    assert len(after) == 1 and after != before, (before, after)


def test_dedup_index_layouts_match_inplan_and_evict_stale(spark, tmp_path):
    """The materialized MinHash signature index and winnow fingerprint
    index must hold exactly the in-plan pipelines' rows (deterministic
    functions of the text — that is why the indexed queries share the
    from-raw oracles) and self-invalidate on a documents mtime bump."""
    import hashlib
    import os
    import shutil

    from pyspark.sql import functions as F

    from logsdb_spark.catalog import load_table
    from logsdb_spark.functions.text import winnow_fingerprints
    from logsdb_spark.operators.dedup import minhash_signatures, shingle_sets
    from logsdb_spark.operators.silver import (
        _SILVER_ROOT,
        minhash_index_layout,
        winnow_fp_layout,
    )

    sfd = str(tmp_path)
    shutil.copy(
        "/root/testdata/sf0.001/documents.parquet",
        os.path.join(sfd, "documents.parquet"),
    )
    docs = load_table(spark, sfd, "documents")

    got_mh = sorted(
        (r.doc_id, tuple(r.shingles), tuple(r.sig))
        for r in minhash_index_layout(spark, sfd).collect()
    )
    want_mh = sorted(
        (r.doc_id, tuple(r.shingles), tuple(r.sig))
        for r in minhash_signatures(
            shingle_sets(docs), keep_shingles=True
        ).collect()
    )
    assert got_mh == want_mh and got_mh

    got_wn = sorted(
        (r.doc_id, r.fp) for r in winnow_fp_layout(spark, sfd).collect()
    )
    want_wn = sorted(
        (r.doc_id, r.fp)
        for r in winnow_fingerprints(docs, "doc_id", "text", k=20, w=8)
        .select("doc_id", F.explode_outer("fps").alias("fp"))
        .filter(F.col("fp").isNotNull())
        .collect()
    )
    assert got_wn == want_wn and got_wn

    digest = hashlib.sha1(os.path.abspath(sfd).encode()).hexdigest()[:12]

    def dirs(prefix):
        return sorted(
            d for d in os.listdir(_SILVER_ROOT)
            if d.startswith(f"{prefix}_{digest}_") and ".tmp." not in d
        )

    before = (dirs("mhidx1"), dirs("wnidx2_20_8"))
    assert all(len(b) == 1 for b in before)
    st = os.stat(os.path.join(sfd, "documents.parquet"))
    os.utime(os.path.join(sfd, "documents.parquet"),
             ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
    minhash_index_layout(spark, sfd).count()
    winnow_fp_layout(spark, sfd).count()
    after = (dirs("mhidx1"), dirs("wnidx2_20_8"))
    assert all(len(a) == 1 for a in after) and after != before


def test_ivf_index_layouts_match_inplan_and_evict_stale(spark, tmp_path):
    """Round 8: the materialized IVF assignment index and quantized
    code corpus must hold exactly the in-plan derivations' rows
    (deterministic functions of the embeddings — why the index-fed
    dedup_embedding_ann and ann_ivf_quantized share the from-raw
    oracles) and self-invalidate on an embeddings mtime bump."""
    import hashlib
    import os
    import shutil

    from logsdb_spark.catalog import load_table
    from logsdb_spark.operators.silver import (
        _SILVER_ROOT,
        ivf_assign_layout,
        ivf_quantized_layout,
    )
    from logsdb_spark.operators.similarity import (
        ivf_cell_assignments,
        ivf_quantized_corpus,
    )

    sfd = str(tmp_path)
    shutil.copy(
        "/root/testdata/sf0.001/embeddings.parquet",
        os.path.join(sfd, "embeddings.parquet"),
    )
    emb = load_table(spark, sfd, "embeddings")

    def asg_key(r):
        return (r.vec_id, r.cell, r.rk, tuple(r.embedding), r.nrm)

    got_a = sorted(asg_key(r) for r in ivf_assign_layout(spark, sfd).collect())
    want_a = sorted(
        asg_key(r)
        for r in ivf_cell_assignments(
            emb, n_assign=2, target_cell_rows=64
        ).collect()
    )
    assert got_a == want_a and got_a

    def q_key(r):
        return (r.vec_id, r.cell, tuple(r.q), r.mx, tuple(r.embedding), r.nrm)

    got_q = sorted(q_key(r) for r in ivf_quantized_layout(spark, sfd).collect())
    want_q = sorted(
        q_key(r) for r in ivf_quantized_corpus(emb, n_centroids=16).collect()
    )
    assert got_q == want_q and got_q

    digest = hashlib.sha1(os.path.abspath(sfd).encode()).hexdigest()[:12]

    def dirs(prefix):
        return sorted(
            d for d in os.listdir(_SILVER_ROOT)
            if d.startswith(f"{prefix}_{digest}_") and ".tmp." not in d
        )

    before = (dirs("ivfidx1_2_64"), dirs("ivfq1_16"))
    assert all(len(b) == 1 for b in before)
    st = os.stat(os.path.join(sfd, "embeddings.parquet"))
    os.utime(os.path.join(sfd, "embeddings.parquet"),
             ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
    ivf_assign_layout(spark, sfd).count()
    ivf_quantized_layout(spark, sfd).count()
    after = (dirs("ivfidx1_2_64"), dirs("ivfq1_16"))
    assert all(len(a) == 1 for a in after) and after != before


def test_verify_width_is_user_specified_at_default_parallelism(spark):
    """_verify_cosine_pairs repartitions its candidates to exactly
    defaultParallelism on id_a: an explicit count marks the exchange
    user-specified, so AQE cannot coalesce the compute-bound verify
    stage down to one task."""
    import re

    from pyspark.sql import functions as F

    from logsdb_spark.operators.similarity import (
        _verify_cosine_pairs,
        _with_norm,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    a = _with_norm(
        emb.select(F.col("vec_id").alias("id_a"),
                   F.col("embedding").alias("va")), "va", "_na")
    b = _with_norm(
        emb.select(F.col("vec_id").alias("id_b"),
                   F.col("embedding").alias("vb")), "vb", "_nb")
    cands = emb.select(F.col("vec_id").alias("id_a")).crossJoin(
        emb.select(F.col("vec_id").alias("id_b"))
    ).filter(F.col("id_a") < F.col("id_b")).limit(200)

    plan = (_verify_cosine_pairs(cands, a, b, 0.0)
            ._jdf.queryExecution().optimizedPlan().toString())
    m = re.search(r"RepartitionByExpression \[id_a[^\]]*\], (\d+)", plan)
    assert m, plan
    assert int(m.group(1)) == spark.sparkContext.defaultParallelism


def test_corpus_shuffle_is_deterministic_permutation(spark):
    """corpus_shuffle_ranged must emit a bijection doc_id -> pos
    (positions are exactly 1..N, each doc once), identical across
    re-runs (seeded hash, not rand()), with round-robin shards
    balanced to within one document."""
    from logsdb_spark.plans.extensions import corpus_shuffle_ranged

    a = corpus_shuffle_ranged(spark, SF_DIR).collect()
    n = len(a)
    assert sorted(r.pos for r in a) == list(range(1, n + 1))
    assert len({r.doc_id for r in a}) == n
    # keys sorted ascending along pos; doc_id breaks ties
    ordered = sorted(a, key=lambda r: r.pos)
    assert all(
        (x.shuffle_key, x.doc_id) < (y.shuffle_key, y.doc_id)
        for x, y in zip(ordered, ordered[1:])
    )
    shard_counts = {}
    for r in a:
        assert r.shard == (r.pos - 1) % 32
        shard_counts[r.shard] = shard_counts.get(r.shard, 0) + 1
    assert max(shard_counts.values()) - min(shard_counts.values()) <= 1
    b = corpus_shuffle_ranged(spark, SF_DIR).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
