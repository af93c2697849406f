"""Benchmark entry point.

    python3 perfbench/run.py --workload logs_daily --seed 1 --seconds 8 --trace 0

Run from the root of a checkout of the repository: the engine
(``logsdb_spark``) is imported from there, and everything the run
writes stays under ``.bench_work/`` there. Inputs are generated from
``--seed``. With ``--trace 0`` the last stdout line is one JSON object
with the end-to-end metrics; with ``--trace 1`` it carries the
per-layer metrics instead, and the spans, per-query rows and streaming
progress go to ``.bench_work/trace/<workload>-seed<N>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _prepare_env(work: str, traced: bool) -> None:
    """Environment for the engine: import path for this process and the
    Python workers, and every temporary location inside the work dir."""
    for d in ("tmp", "spark-local", "silver", "eventlog", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_CPUS"] = "2"
    os.environ["SPARK_DRIVER_MEM"] = "2g"
    os.environ["LOGSDB_SPARK_SILVER_ROOT"] = os.path.join(work, "silver")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData")
    conf = [f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            "spark.ui.showConsoleProgress=false"]
    if traced:
        conf += ["spark.eventLog.enabled=true", "spark.eventLog.compress=false",
                 "spark.eventLog.rolling.enabled=false",
                 f"spark.eventLog.dir=file://{os.path.join(work, 'eventlog')}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {c}" for c in conf) + " pyspark-shell"


def _overhead(res_dir: str, run) -> dict:
    """Traced minus untraced end-to-end values, against the last
    untraced run of the same workload and seed, when there is one."""
    path = os.path.join(res_dir, f"{run.workload}-seed{run.seed}.json")
    if not os.path.exists(path):
        return {}
    with open(path) as fp:
        base = json.load(fp)
    out = {}
    for k, v in run.e2e.items():
        b = base.get(k)
        if b:
            out[k] = {"untraced": b, "traced": v, "ratio": v / b}
    return out


def _cpu_times() -> list[int]:
    """The host-wide cpu line of /proc/stat (user ... steal, in ticks)."""
    with open("/proc/stat") as fp:
        return [int(x) for x in fp.readline().split()[1:9]]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="tiny inputs, for the smoke test")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "logsdb_spark", "__init__.py")):
        print(f"perfbench: no logsdb_spark package under {ROOT}; run from the "
              "root of a checkout of the repository", file=sys.stderr)
        return 2

    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".bench_work")
    work = os.path.join(base, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    traced = bool(args.trace)
    _prepare_env(work, traced)

    run = workloads.Run(args.workload, args.seed, args.seconds, traced,
                        args.tiny, ROOT, work)
    run.rss.start()
    cpu0 = _cpu_times()
    t0 = time.perf_counter()
    try:
        workloads.WORKLOADS[args.workload](run)
    finally:
        run.stop_session()
        peak = run.rss.stop()
        shutil.rmtree(work, ignore_errors=True)
    wall = time.perf_counter() - t0
    ticks = [b - a for a, b in zip(cpu0, _cpu_times())]
    # CPU time the hypervisor gave to other guests while this ran: a
    # high share means the timings of this run are inflated.
    steal = ticks[7] / max(sum(ticks), 1)

    res_dir = os.path.join(base, "results")
    os.makedirs(res_dir, exist_ok=True)
    if traced:
        run.layer["peak_rss_mb"] = peak
        for k, v in run.e2e.items():
            run.layer[f"traced.{k}"] = v
        metrics = {k: {"value": run.layer[k], "unit": u}
                   for k, u in workloads.PER_LAYER.items()}
        os.makedirs(os.path.join(base, "trace"), exist_ok=True)
        trace_path = os.path.join(base, "trace", f"{args.workload}-seed{args.seed}.json")
        with open(trace_path, "w") as fp:
            json.dump({"workload": args.workload, "seed": args.seed,
                       "inputs": run.inputs, "wall_s": wall,
                       "end_to_end": run.e2e, "per_layer": run.layer,
                       "cpu_steal_share": steal,
                       "overhead": _overhead(res_dir, run),
                       "errors": run.errors, "queries": run.queries,
                       "progress": run.progress, "spans": run.spans.spans},
                      fp, indent=1, default=str)
        print(f"trace written to {os.path.relpath(trace_path, ROOT)}")
    else:
        metrics = {k: {"value": run.e2e[k], "unit": u}
                   for k, u in workloads.END_TO_END.items()}
        with open(os.path.join(res_dir, f"{args.workload}-seed{args.seed}.json"),
                  "w") as fp:
            json.dump({**run.e2e, "cpu_steal_share": steal, "wall_s": wall,
                       "phases": run.spans.top_level(),
                       "batches_ms": run.batches, "queries": run.queries}, fp)

    for err in run.errors:
        print(f"error: {err}", file=sys.stderr)
    attempted = max(run.attempted, 1)
    print(f"workload {args.workload} seed {args.seed}: inputs {json.dumps(run.inputs)}")
    for k, m in metrics.items():
        print(f"  {k:34s} {m['value']:.6g} {m['unit']}")
    print(f"  {'error_rate':34s} {run.failed / attempted:.6g} ratio "
          f"({run.failed} of {attempted} operations failed)")
    if not traced:
        for k, u in workloads.COLD.items():
            print(f"  {k:34s} {run.e2e[k]:.6g} {u} (not gated)")
        print(f"  {'peak_rss_mb':34s} {peak:.6g} MB")
    print(f"  {'cpu_steal_share':34s} {steal:.3g} ratio")
    print(json.dumps({"correct": run.failed == 0, "attempted": attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
