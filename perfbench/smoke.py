"""Tiny-size smoke check of the benchmark itself.

    python3 perfbench/smoke.py

Run from the repository root. It checks that
- the same seed gives byte-identical input files and another seed does not;
- an untraced run prints exactly the result keys and every end-to-end
  metric with its unit, and is correct;
- a traced run prints every per-layer metric, and a deliberately corrupted
  op output fails the correctness check;
- outside a checkout of the package the benchmark exits non-zero without
  printing a result.
Exits 0 when all hold.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import layers  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


def bench(*args: str, cwd: str | None = None) -> tuple[int, dict | None]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--size", "tiny",
           "--seconds", "1", *args]
    p = subprocess.run(cmd, cwd=cwd or os.getcwd(), capture_output=True,
                       text=True, timeout=600)
    last = p.stdout.strip().splitlines()[-1:] if p.stdout.strip() else []
    try:
        return p.returncode, json.loads(last[0]) if last else None
    except json.JSONDecodeError:
        return p.returncode, None


def check(cond: bool, what: str) -> None:
    print(("ok   " if cond else "FAIL ") + what, flush=True)
    if not cond:
        sys.exit(1)


def main() -> int:
    area = os.path.join(os.getcwd(), ".perfbench", "smoke")
    shutil.rmtree(area, ignore_errors=True)
    wl = workloads.WORKLOADS["taxi_nightly"]("tiny")
    a = workloads.prepare_inputs(wl, 7, os.path.join(area, "a"))
    b = workloads.prepare_inputs(wl, 7, os.path.join(area, "b"))
    c = workloads.prepare_inputs(wl, 8, os.path.join(area, "c"))
    check(a["digests"] == b["digests"], "same seed, identical input files")
    check(a["digests"] != c["digests"], "other seed, different input files")
    shutil.rmtree(area, ignore_errors=True)

    rc, res = bench("--workload", "taxi_nightly", "--seed", "1", "--trace", "0")
    check(rc == 0 and res is not None, "untraced run exits 0 with a result")
    check(set(res) == {"correct", "attempted", "failed", "metrics"},
          "result has exactly the four keys")
    check(res["correct"] and res["failed"] == 0 and res["attempted"] > 0,
          f"untraced run is correct ({res['attempted']} ops)")
    want = dict(run.END_TO_END)
    check({k: v["unit"] for k, v in res["metrics"].items()} == want,
          "every end-to-end metric printed with its unit")

    rc, res = bench("--workload", "llm_curation", "--seed", "1", "--trace", "1",
                    "--corrupt", "exact_dedup")
    check(rc == 0 and res is not None, "traced run exits 0 with a result")
    want = dict(layers.per_layer_names())
    check({k: v["unit"] for k, v in res["metrics"].items()} == want,
          f"every per-layer metric printed with its unit ({len(want)})")
    check(not res["correct"] and res["failed"] >= 1,
          "a corrupted output fails the correctness check")

    bare = tempfile.mkdtemp(prefix="perfbench-bare-", dir=os.getcwd())
    try:
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        shutil.copy("BENCHMARK.json", bare)
        rc, res = bench("--workload", "taxi_nightly", "--seed", "1", cwd=bare)
        check(rc != 0 and res is None,
              "without the package: non-zero exit and no result")
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
