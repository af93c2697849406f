"""The benchmark's workloads: ``logs_daily`` and ``curation``.

Both are closed loops: the next operation starts only after the
previous one has finished. Each workload has a set-up part (timed as
``setup_s``), a streaming drain, and passes of batch queries (a cold
first pass and warm later ones). The per-layer numbers of the traced
run are gathered here too; every layer a workload does not exercise
reads 0.
"""

from __future__ import annotations

import json
import os
import random
import statistics
import threading
import time
import traceback
from datetime import timedelta

import gen_logs
import gen_tables
from check import oracle_digests, report_mismatches, spark_digest
from tracing import EventLog, RssSampler, Spans, job_group, wrap_module

SOURCES = ("apache", "authfail", "maillog")

CURATION_QUERIES = {
    "dedup_minhash_lsh": "dedup",
    "ann_ivf": "similarity",
    "multimodal_jpeg_pixel_stats": "multimodal",
    "quality_bigram_lm": "text",
}

END_TO_END = {
    "setup_s": "s",
    "warm_pass_s": "s",
    "drain_rows_per_s": "rows/s",
    "batch_ms_p50": "ms",
}

# Printed and traced, but not a gated end-to-end metric: there is one
# cold pass per process, so one sample per run, and it spreads too
# widely across runs to hold a regression bound.
COLD = {"cold_pass_s": "s"}

_PROGRESS = ("addBatch", "queryPlanning", "walCommit", "commitOffsets",
             "latestOffset")


def _per_layer_units() -> dict:
    units = {
        "session.start_s": "s",
        "silver.build_s": "s", "silver.layouts_built": "count",
        "silver.bytes": "bytes",
        "plans.build_s": "s", "plans.build_jobs": "count",
        "exec.action_s": "s", "exec.jobs": "count", "exec.stages": "count",
        "exec.stages_skipped": "count", "exec.tasks": "count",
        "exec.input_bytes": "bytes", "exec.shuffle_read_bytes": "bytes",
        "exec.shuffle_write_bytes": "bytes", "exec.spill_bytes": "bytes",
        "exec.cached_scans": "count", "exec.gc_ms": "ms",
        "exec.task_skew": "ratio",
        "operators.dedup_s": "s", "operators.similarity_s": "s",
        "operators.multimodal_s": "s", "operators.text_s": "s",
        "functions.python_ms": "ms", "functions.python_boot_ms": "ms",
        "functions.arrow_bytes_sent": "bytes",
        "functions.arrow_bytes_received": "bytes",
        "functions.minhash_kernel_ms": "ms", "functions.winnow_kernel_ms": "ms",
        "sources.apache_rows_per_s": "rows/s",
        "sources.authfail_rows_per_s": "rows/s",
        "sources.maillog_rows_per_s": "rows/s",
    }
    for s in SOURCES:
        units[f"ingest.{s}.batches"] = "count"
        for p in ("add_batch", "planning", "wal_commit", "commit_offsets",
                  "latest_offset"):
            units[f"ingest.{s}.{p}_ms"] = "ms"
        units[f"ingest.{s}.jobs_per_batch"] = "count"
    units["ingest.apache.dead_rows"] = "count"
    units["ingest.authfail.dead_rows"] = "count"
    units.update({
        "report.apache_s": "s", "report.authfail_s": "s",
        "report.maillog_s": "s", "report.files_read": "count",
        "report.bytes_read": "bytes",
        "probe.state_build_s": "s", "probe.batches": "count",
        "probe.add_batch_ms": "ms", "probe.jobs_per_batch": "count",
        "probe.flags": "count",
        "scale1.drain_rows_per_s": "rows/s", "scale1.batch_ms_p50": "ms",
        "scale1.report_s": "s",
        "peak_rss_mb": "MB",
    })
    for name, unit in {**END_TO_END, **COLD}.items():
        units[f"traced.{name}"] = unit
    return units


PER_LAYER = _per_layer_units()

# Two task slots on the 4-vCPU host the benchmark is sized for. The
# JVM's compiler and GC threads, the Python workers and the driver
# then have cores of their own, so a stage's time does not depend on
# which of them the scheduler happened to run first.
MASTER = "local[2]"


class Run:
    """State of one benchmark run: operations attempted and failed,
    metrics, spans, and the traced-run extras."""

    def __init__(self, workload, seed, seconds, traced, tiny, root, work):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.traced = traced
        self.tiny = tiny
        self.root = root
        self.work = work
        self.spans = Spans()
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {k: 0.0 for k in PER_LAYER}
        self.queries: list[dict] = []
        self.progress: list[dict] = []
        self.batches: dict[str, list[float]] = {}  # triggerExecution ms
        self.inputs: dict = {}
        self.spark = None
        self.rss = RssSampler()

    def op(self, name: str, fn):
        """Run one operation; a raise counts as a failure."""
        self.attempted += 1
        try:
            return fn()
        except Exception:  # noqa: BLE001 - every failure is counted
            self.failed += 1
            self.errors.append(f"{name}: {traceback.format_exc(limit=4)}")
            return None

    def fail(self, what: str):
        self.failed += 1
        self.errors.append(what)

    # -- session ---------------------------------------------------------

    def start_session(self, master: str = MASTER):
        if self.traced and not self.spans.count("session."):
            from logsdb_spark.operators import silver

            wrap_module(self.spans, silver, "silver",
                        [n for n in vars(silver) if n.endswith("_layout")
                         or n == "silver_events"])
        from logsdb_spark.session import get_spark

        with self.spans.span("session.get_spark") as sp:
            spark = get_spark("perfbench", master=master)
        spark.sparkContext.setLogLevel("ERROR")
        self.layer["session.start_s"] = sp["end"] - sp["start"]
        if self.traced:
            from tracing import make_progress_listener

            spark.streams.addListener(make_progress_listener(self.progress))
        self.spark = spark
        return spark

    def stop_session(self) -> str | None:
        """Stop Spark and wait for the JVM to exit. Returns the path of
        this application's event log (traced runs)."""
        from pyspark import SparkContext

        if self.spark is None:
            return None
        app_id = self.spark.sparkContext.applicationId
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        self.spark.stop()
        self.spark = None
        log = None
        if self.traced:
            path = os.path.join(self.work, "eventlog", app_id)
            log = path if os.path.exists(path) else None
        if gw is not None:
            gw.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if proc is not None:
            try:
                proc.stdin.close()
            except OSError:
                pass
            proc.wait(timeout=60)
        return log


def _batch_ms(progress: list[dict]) -> list[float]:
    return [p["durationMs"]["triggerExecution"] for p in progress
            if p.get("numInputRows", 0) > 0
            and "triggerExecution" in p.get("durationMs", {})]


def _batch_p50(batches: dict[str, list[float]], wall: float) -> float:
    """The mean over sources of each source's median micro-batch time.
    The sources' batches differ in cost, so a median over all of them
    would land on whichever source straddles the middle."""
    meds = [statistics.median(b) for b in batches.values() if b]
    return statistics.fmean(meds) if meds else wall * 1e3


def _progress_of(query) -> list[dict]:
    return [json.loads(p.json) for p in query.recentProgress]


def _move_day(day_dirs: dict, spool: dict) -> None:
    """New-day files arrive: rename them into the watched directories."""
    for src, d in day_dirs.items():
        for n in sorted(os.listdir(d)):
            os.rename(os.path.join(d, n), os.path.join(spool[src], n))


# ---------------------------------------------------------------------------
# logs_daily
# ---------------------------------------------------------------------------


def _report_cfg(tables: str):
    from logsdb_spark.config import Config

    return Config.from_dict({
        "storage": {"tables_dir": tables, "checkpoint_dir": tables},
        "features": {"apache_access": True, "authfail": True, "maillog": True},
        "dailyreport": {"recipient": "ops@bench.example",
                        "mailbox": "/dev/null", "logs_dir": "/var/log/none"},
    })


def _host():
    from logsdb_spark.report.dailyreport import HostState

    return HostState(loadavg=(0.42, 0.35, 0.3), disk_size=100 * 2**30,
                     disk_used=31 * 2**30, vnstat_tx=123456789,
                     vnstat_rx=987654321, hostname="bench-host")


# Files per micro-batch while a new day drains: one log file per batch
# (10 batches each), three messages per batch (4 batches; a mail batch
# costs about twice a log batch, so the mail stream still ends first).
NEW_DAY_PER_TRIGGER = {"apache": 1, "authfail": 1, "maillog": 3}


def _start_stream(spark, src, spool, tables, now, per_trigger: dict):
    from logsdb_spark.streaming import ingest

    if src == "maillog":
        return ingest.ingest_maillog(
            spark, spool[src], tables, now=now,
            max_files_per_trigger=per_trigger.get(src))
    start = {"apache": ingest.ingest_apache_access,
             "authfail": ingest.ingest_authfail}[src]
    return start(spark, spool[src], tables,
                 max_files_per_trigger=per_trigger.get(src))


def _drain(run: Run, spark, inp, tables, day_idx: int):
    """Drain one new day through the three ingest streams, one stream
    after the other, so that no micro-batch shares the cores with
    another stream's. Returns (wall seconds, {source: query})."""
    from logsdb_spark.streaming.ingest import run_until_drained

    exp = inp.expect[day_idx]
    _move_day(inp.new[day_idx], inp.spool)
    qs = {}
    t0 = time.perf_counter()
    with run.spans.span("streaming.ingest.drain", trace=f"drain{day_idx}"):
        for src in SOURCES:
            with run.spans.span(f"streaming.ingest.{src}"):
                qs[src] = q = _start_stream(spark, src, inp.spool, tables,
                                            exp.day + timedelta(hours=12),
                                            NEW_DAY_PER_TRIGGER)
                run.op(f"drain {src}", lambda q=q: run_until_drained(q, 150.0))
    wall = time.perf_counter() - t0
    return wall, qs


def _check_ingest(run: Run, spark, inp, tables, upto: int) -> dict:
    """Check the good and dead-letter counts through new day ``upto``
    and the day's message count. Returns the dead-letter row counts."""
    from pyspark.sql import functions as F

    exps = inp.expect[:upto + 1]
    day = exps[-1].day
    read = lambda name: spark.read.parquet(os.path.join(tables, name))  # noqa: E731
    dead_rows = {}
    for src, table in (("apache", "apache_access"), ("authfail", "authfail")):
        good = read(table).where(F.col("event_date") == day.date()).count()
        dead = read(f"{table}_dead_letter").count()
        want_good = getattr(exps[-1], f"{src}_good")
        want_dead = sum(getattr(e, f"{src}_dead") for e in exps)
        dead_rows[src] = dead
        if (good, dead) != (want_good, want_dead):
            run.fail(f"{src} ingest: good/dead {good}/{dead}, "
                     f"expected {want_good}/{want_dead}")
    mails = read("inbox").where(
        (F.col("timestamp") >= day) & (F.col("timestamp") < day + timedelta(days=1))
    ).count()
    if mails != exps[-1].mails:
        run.fail(f"maillog ingest: {mails} messages, expected {exps[-1].mails}")
    return dead_rows


def _report(run: Run, spark, cfg, exp, label: str):
    from logsdb_spark.report.dailyreport import run_daily_report

    now = exp.day + timedelta(days=1)
    with job_group(spark, label), run.spans.span("report.run_daily_report",
                                                 trace=label):
        t0 = time.perf_counter()
        rep = run.op("report", lambda: run_daily_report(
            spark, cfg, _host(), now, local_domains={gen_logs.LOCAL_DOMAIN}))
        dt = time.perf_counter() - t0
    run.queries.append({"query": "run_daily_report", "pass": label,
                        "group": label, "action_s": dt})
    if rep is not None:
        bad = report_mismatches(rep.body, exp)
        if bad:
            run.fail(f"report {label}: " + "; ".join(bad))
    return dt, rep


def logs_daily(run: Run) -> None:
    sizes = gen_logs.Sizes()
    if run.tiny:
        sizes = gen_logs.Sizes(history_days=3, apache_per_day=50,
                               authfail_per_day=30, mails_per_day=1,
                               apache_new=300, authfail_new=200, mails_new=3,
                               files_per_new_day=3)
    if run.traced:
        sizes.new_days = 2  # the second new day is the local[1] baseline
    inp = gen_logs.generate(os.path.join(run.work, "logs"), run.seed, sizes)
    run.inputs = {"history_days": sizes.history_days,
                  "history_rows": inp.history_rows,
                  "new_day_rows": inp.expect[0].rows,
                  "dead_letters": inp.expect[0].apache_dead
                  + inp.expect[0].authfail_dead,
                  "files_per_source": sizes.files_per_new_day}
    tables = os.path.join(run.work, "tables")
    cfg = _report_cfg(tables)
    from logsdb_spark.streaming.ingest import run_until_drained

    t0 = time.perf_counter()
    spark = run.start_session()
    with run.spans.span("setup.backfill"):
        qs = {src: _start_stream(spark, src, inp.spool, tables,
                                 gen_logs.BASE_DAY, {}) for src in SOURCES}
        for src, q in qs.items():
            run.op(f"backfill {src}", lambda q=q: run_until_drained(q, 150.0))
    run.e2e["setup_s"] = time.perf_counter() - t0

    exp = inp.expect[0]
    wall, qs = _drain(run, spark, inp, tables, 0)
    progress = {s: _progress_of(q) for s, q in qs.items()}
    run.batches = {s: _batch_ms(p) for s, p in progress.items()}
    run.e2e["drain_rows_per_s"] = exp.rows / wall
    if not all(run.batches.values()):
        run.fail("a source recorded no non-empty micro-batch")
    run.e2e["batch_ms_p50"] = _batch_p50(run.batches, wall)
    for src, n in _check_ingest(run, spark, inp, tables, 0).items():
        run.layer[f"ingest.{src}.dead_rows"] = n

    cold, body = _report(run, spark, cfg, exp, "report.cold")
    run.e2e["cold_pass_s"] = cold
    warm = []
    w0 = time.perf_counter()
    # a report takes under two seconds, so take at least five for the median
    while len(warm) < 5 or time.perf_counter() - w0 < run.seconds:
        dt, rep = _report(run, spark, cfg, exp, f"report.warm{len(warm)}")
        warm.append(dt)
        if rep is not None and body is not None and rep.body != body.body:
            run.fail("report body changed between passes")
    run.e2e["warm_pass_s"] = statistics.median(warm)

    if run.traced:
        _logs_layers(run, spark, inp, tables, progress)
        qids = {s: str(q.id) for s, q in qs.items()}
        log = run.stop_session()
        _logs_eventlog(run, log, qids, warm)
        _scale1(run, inp, tables, cfg)


def _logs_layers(run, spark, inp, tables, progress):
    """Traced-run extras of logs_daily that need the live session."""
    from logsdb_spark.report import dailyreport as dr
    from logsdb_spark.operators.upsert import inbox_with_contacts
    from logsdb_spark.sources import apache_access, authfail, maillog

    exp = inp.expect[0]
    for src, prog in progress.items():
        nonempty = [p for p in prog if p.get("numInputRows", 0) > 0]
        run.layer[f"ingest.{src}.batches"] = len(nonempty)
        for key, name in zip(_PROGRESS, ("add_batch", "planning", "wal_commit",
                                         "commit_offsets", "latest_offset")):
            vals = [p["durationMs"].get(key, 0) for p in nonempty]
            run.layer[f"ingest.{src}.{name}_ms"] = statistics.median(vals) if vals else 0

    # sources: the new day parsed from a static frame to the noop sink
    files = {s: sorted(os.path.join(inp.spool[s], n) for n in os.listdir(inp.spool[s])
                       if n.startswith(exp.day.strftime("%Y%m%d")))
             for s in SOURCES}
    for src, parse, mod in (("apache", apache_access.parse_apache_lines, apache_access),
                            ("authfail", authfail.parse_authfail_lines, authfail)):
        def go(parse=parse, mod=mod, src=src):
            parsed = parse(spark.read.text(files[src]))
            mod.good_events(parsed).write.format("noop").mode("overwrite").save()
            mod.dead_letters(parsed).write.format("noop").mode("overwrite").save()
        with run.spans.span(f"sources.{src}"):
            t0 = time.perf_counter()
            run.op(f"sources {src}", go)
            dt = time.perf_counter() - t0
        n = getattr(exp, f"{src}_good") + getattr(exp, f"{src}_dead")
        run.layer[f"sources.{src}_rows_per_s"] = n / dt

    def mail():
        frame = spark.read.format("binaryFile").load(files["maillog"])
        maillog.parse_email_messages(frame, now=exp.day).write.format(
            "noop").mode("overwrite").save()
    with run.spans.span("sources.maillog"):
        t0 = time.perf_counter()
        run.op("sources maillog", mail)
        run.layer["sources.maillog_rows_per_s"] = exp.mails / (time.perf_counter() - t0)

    # report: the three section functions called directly
    now = exp.day + timedelta(days=1)
    load = lambda n: spark.read.parquet(os.path.join(tables, n))  # noqa: E731
    sections = {
        "apache": lambda: dr.apache_daily_report(load("apache_access"), now),
        "authfail": lambda: dr.authfail_daily_report(load("authfail"), now),
        "maillog": lambda: dr.maillog_daily_report(
            inbox_with_contacts(load("inbox"), load("inbox_contacts"),
                                load("inbox_tocc")),
            now, {gen_logs.LOCAL_DOMAIN}),
    }
    for name, fn in sections.items():
        with run.spans.span(f"report.{name}_daily_report"):
            t0 = time.perf_counter()
            run.op(f"report section {name}", fn)
            run.layer[f"report.{name}_s"] = time.perf_counter() - t0
    run.layer["functions.minhash_kernel_ms"], run.layer["functions.winnow_kernel_ms"] = \
        kernel_ms(run.seed)


def _logs_eventlog(run, log, qids, warm):
    if log is None:
        run.errors.append("no event log found")
        return
    ev = EventLog(log)
    for src, qid in qids.items():
        n = run.layer[f"ingest.{src}.batches"]
        jobs = ev.job_ids(queries={qid})
        run.layer[f"ingest.{src}.jobs_per_batch"] = len(jobs) / n if n else 0
    drain_jobs = ev.job_ids(queries=set(qids.values()))
    run.layer.update({f"functions.{k}": v for k, v in
                      ev.python_metrics(drain_jobs).items()})
    last = ev.job_ids(groups={f"report.warm{len(warm) - 1}"})
    _exec_layers(run, ev, last)
    m = ev.sql_metrics(last)
    run.layer["report.files_read"] = m.get("number of files read", 0)
    run.layer["report.bytes_read"] = m.get("size of files read", 0)
    run.layer["exec.action_s"] = warm[-1]


def _scale1(run, inp, tables, cfg):
    """The second new day drained and reported at local[1], the
    single-threaded scaling reference."""
    spark = run.start_session(master="local[1]")
    wall, qs = _drain(run, spark, inp, tables, 1)
    batches = {s: _batch_ms(_progress_of(q)) for s, q in qs.items()}
    run.layer["scale1.drain_rows_per_s"] = inp.expect[1].rows / wall
    run.layer["scale1.batch_ms_p50"] = _batch_p50(batches, wall)
    _check_ingest(run, spark, inp, tables, 1)
    dt, _ = _report(run, spark, cfg, inp.expect[1], "scale1.report")
    run.layer["scale1.report_s"] = dt
    run.stop_session()


# ---------------------------------------------------------------------------
# curation
# ---------------------------------------------------------------------------


def _pass(run: Run, spark, sf_dir, queries, label: str) -> float:
    """One pass over the query set: build each query, then run it to
    the noop sink so the full result is computed. Build plus action is
    one operation."""
    t0 = time.perf_counter()
    for name, fn in queries.items():
        row = {"query": name, "pass": label, "group": f"{label}:{name}"}

        def one(fn=fn, row=row):
            with run.spans.span("plans.build"):
                b0 = time.perf_counter()
                df = fn(spark, sf_dir)
                row["build_s"] = time.perf_counter() - b0
                row["build_end_ms"] = time.time() * 1e3
            with run.spans.span("exec.action"):
                a0 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                row["action_s"] = time.perf_counter() - a0

        with job_group(spark, row["group"]), \
                run.spans.span(f"query.{name}", trace=row["group"]):
            run.op(name, one)
        run.queries.append(row)
    return time.perf_counter() - t0


def kernel_ms(seed: int) -> tuple[float, float]:
    """Direct calls into the MinHash and winnowing kernels on a seeded
    fixed batch; the median of five calls each, in milliseconds."""
    import numpy as np

    from logsdb_spark.functions import minhash_fast, winnow_fast

    rng = random.Random(seed)
    texts = [gen_tables._text(rng) for _ in range(400)]
    nrng = np.random.default_rng(seed)
    lens = nrng.integers(8, 90, 400)
    flat = nrng.integers(0, 2**31 - 1, int(lens.sum())).astype(np.uint64)
    starts = np.zeros(lens.size, dtype=np.intp)
    np.cumsum(lens[:-1], out=starts[1:])
    A = nrng.integers(1, 2**31 - 1, 32).astype(np.uint64)
    B = nrng.integers(0, 2**31 - 1, 32).astype(np.uint64)

    def med(fn):
        out = []
        for _ in range(5):
            t0 = time.perf_counter()
            fn()
            out.append((time.perf_counter() - t0) * 1e3)
        return statistics.median(out)

    return (med(lambda: minhash_fast._permuted_minima(flat, starts, lens.astype(np.intp), A, B)),
            med(lambda: winnow_fast._batch_fps_flat(texts, 20, 8)))


def curation(run: Run) -> None:
    sizes = gen_tables.Sizes()
    if run.tiny:
        sizes = gen_tables.Sizes(docs=120, vectors=120, probe_docs=30, probe_files=3)
    sf_dir = os.path.join(run.work, "sf")
    probe_src = os.path.join(run.work, "arrivals")
    with run.spans.span("inputs.generate"):
        run.inputs = gen_tables.generate(sf_dir, probe_src, run.seed, sizes)
    run.inputs["probe_files"] = sizes.probe_files
    run.inputs["near_dup_share"] = gen_tables.PROBE_EDIT_SHARE

    from logsdb_spark.registry import all_oracles, all_queries

    every = all_queries()
    queries = {n: every[n] for n in CURATION_QUERIES}
    oracles = {n: all_oracles()[n] for n in CURATION_QUERIES}

    t0 = time.perf_counter()
    spark = run.start_session()
    with run.spans.span("setup.build"):
        for name, fn in queries.items():
            with run.spans.span("plans.build", trace=f"setup:{name}"):
                run.op(f"build {name}", lambda fn=fn: fn(spark, sf_dir))
    from logsdb_spark.catalog import load_table
    from logsdb_spark.operators.dedup import prepare_ensemble_corpus_state
    from logsdb_spark.operators.silver import minhash_index_layout, winnow_fp_layout

    with run.spans.span("probe.state_build") as sp:
        def state():
            st = prepare_ensemble_corpus_state(minhash_index_layout(spark, sf_dir),
                                               winnow_fp_layout(spark, sf_dir))
            for frame in st:
                frame.count()
            return st
        est = run.op("probe state", state)
    run.e2e["setup_s"] = time.perf_counter() - t0
    run.layer["probe.state_build_s"] = sp["end"] - sp["start"]
    run.layer["silver.build_s"] = run.spans.total("silver.")  # set-up only

    run.e2e["cold_pass_s"] = _pass(run, spark, sf_dir, queries, "cold")
    warm = []
    w0 = time.perf_counter()
    while len(warm) < 2 or time.perf_counter() - w0 < run.seconds:
        warm.append(_pass(run, spark, sf_dir, queries, f"warm{len(warm)}"))
    # the sum of each query's median over the warm passes
    run.e2e["warm_pass_s"] = sum(statistics.median(
        r.get("build_s", 0) + r.get("action_s", 0) for r in run.queries
        if r["query"] == name and r["pass"].startswith("warm"))
        for name in queries)

    from logsdb_spark.streaming.dedup import start_ensemble_stream
    from logsdb_spark.streaming.ingest import run_until_drained

    corpus = load_table(spark, sf_dir, "documents")
    out = os.path.join(run.work, "probe_out")
    p0 = time.perf_counter()
    with run.spans.span("streaming.dedup.drain", trace="probe"):
        q = start_ensemble_stream(spark, corpus, probe_src, out, threshold=0.6,
                                  max_files_per_trigger=1, state=est)
        run.op("probe drain", lambda: run_until_drained(q, 150.0))
    wall = time.perf_counter() - p0
    prog = _progress_of(q)
    run.batches["probe"] = _batch_ms(prog)
    run.e2e["drain_rows_per_s"] = run.inputs["probe_docs"] / wall
    if not run.batches["probe"]:
        run.fail("probe recorded no non-empty micro-batch")
    run.e2e["batch_ms_p50"] = _batch_p50(run.batches, wall)

    # Checks. Nothing is timed from here on, so the DuckDB oracles run
    # in a thread next to the Spark side of the checks.
    want: dict = {}
    oracle_thread = threading.Thread(target=lambda: want.update(oracle_digests(
        sf_dir, ["documents", "embeddings"], oracles,
        os.path.join(run.root, ".bench_work", "cache"))))
    oracle_thread.start()
    got: dict = {}

    def check(name):
        try:
            got[name] = spark_digest(queries[name](spark, sf_dir))
        except Exception:  # noqa: BLE001 - the mismatch is counted below
            run.errors.append(f"check {name}: {traceback.format_exc(limit=4)}")

    from logsdb_spark.operators.dedup import ensemble_near_dups_incremental

    pairs = lambda df: {(r[0], r[1]) for r in df.select("corpus_id", "new_id").collect()}  # noqa: E731
    probe_sets: dict = {}

    def check_probe():
        probe_sets["flags"] = pairs(spark.read.parquet(os.path.join(out, "ensemble_flags")))
        probe_sets["expect"] = pairs(ensemble_near_dups_incremental(
            corpus, spark.read.parquet(probe_src), threshold=0.6))

    with run.spans.span("check.queries"):
        threads = [threading.Thread(target=check, args=(n,)) for n in queries]
        threads.append(threading.Thread(target=check_probe))
        for t in threads:
            t.start()
        for t in threads:
            t.join()
    flags = probe_sets.get("flags", set())
    if not probe_sets or flags != probe_sets.get("expect"):
        run.fail(f"probe flags {len(flags)} != incremental operator "
                 f"{len(probe_sets.get('expect', ()))}")
    with run.spans.span("check.oracles"):
        oracle_thread.join()
    for name in queries:
        if got.get(name) != want.get(name):
            run.fail(f"{name}: digest {got.get(name)} != oracle {want.get(name)}")
    run.inputs["probe_flags"] = len(flags)

    if run.traced:
        nonempty = [p for p in prog if p.get("numInputRows", 0) > 0]
        run.layer["probe.batches"] = len(nonempty)
        run.layer["probe.flags"] = len(flags)
        adds = [p["durationMs"].get("addBatch", 0) for p in nonempty]
        run.layer["probe.add_batch_ms"] = statistics.median(adds) if adds else 0
        silver_root = os.environ["LOGSDB_SPARK_SILVER_ROOT"]
        run.layer["silver.layouts_built"] = len(os.listdir(silver_root))
        run.layer["silver.bytes"] = sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, fs in os.walk(silver_root) for f in fs)
        last = f"warm{len(warm) - 1}"
        rows = [r for r in run.queries if r["pass"] == last]
        run.layer["plans.build_s"] = sum(r.get("build_s", 0) for r in rows)
        run.layer["exec.action_s"] = sum(r.get("action_s", 0) for r in rows)
        for fam in ("dedup", "similarity", "multimodal", "text"):
            run.layer[f"operators.{fam}_s"] = sum(
                r.get("build_s", 0) + r.get("action_s", 0) for r in rows
                if CURATION_QUERIES[r["query"]] == fam)
        run.layer["functions.minhash_kernel_ms"], run.layer["functions.winnow_kernel_ms"] = \
            kernel_ms(run.seed)
        qid = str(q.id)
        log = run.stop_session()
        if log is None:
            run.errors.append("no event log found")
            return
        ev = EventLog(log)
        groups = {r["group"] for r in rows}
        jobs = ev.job_ids(groups=groups)
        _exec_layers(run, ev, jobs)
        build_jobs = 0
        for r in rows:
            # jobs of a query's group that started before its action
            for jid in ev.job_ids(groups={r["group"]}):
                j = ev.jobs[jid]
                if j.get("start") is not None and r.get("build_end_ms") \
                        and j["start"] <= r["build_end_ms"]:
                    build_jobs += 1
        run.layer["plans.build_jobs"] = build_jobs
        pjobs = ev.job_ids(queries={qid})
        n = run.layer["probe.batches"]
        run.layer["probe.jobs_per_batch"] = len(pjobs) / n if n else 0
        run.layer.update({f"functions.{k}": v for k, v in
                          ev.python_metrics(jobs + pjobs).items()})
        for r in run.queries:
            ids = ev.job_ids(groups={r["group"]})
            r.update(ev.exec_totals(ids))


def _exec_layers(run, ev, jobs):
    for k, v in ev.exec_totals(jobs).items():
        run.layer[f"exec.{k}"] = v


WORKLOADS = {"logs_daily": logs_daily, "curation": curation}
