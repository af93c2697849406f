"""Smoke test of the benchmark: a tiny size of each workload, untraced
and traced. Asserts that the result line names every metric of
BENCHMARK.json with its unit, that every human-readable metric line is
printed, and that the correctness checks pass.

    python3 perfbench/smoke_test.py            # from the repository root
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace), "--tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    return {"result": result, "text": "\n".join(lines[:-1]), "stderr": proc.stderr}


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fp:
        bench = json.load(fp)
    for w in bench["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            out = run(w["name"], trace)
            res = out["result"]
            assert set(res) == {"correct", "attempted", "failed", "metrics"}, res
            assert res["correct"] and res["failed"] == 0, out["stderr"][-3000:]
            assert res["attempted"] >= 1
            want = {m["name"]: m["unit"] for m in bench[key]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            assert got == want, (w["name"], trace, set(got) ^ set(want))
            for name, unit in want.items():
                value = res["metrics"][name]["value"]
                assert isinstance(value, (int, float)), (name, value)
                assert f" {unit}" in next(
                    ln for ln in out["text"].splitlines()
                    if ln.split() and ln.split()[0] == name), name
            if trace == 0:
                assert all(res["metrics"][n]["value"] > 0 for n in want), res
            assert "error_rate" in out["text"] and "peak_rss_mb" in out["text"]
            print(f"ok {w['name']} trace={trace}: {res['attempted']} operations, "
                  f"{len(want)} metrics")
    return 0


if __name__ == "__main__":
    sys.exit(main())
