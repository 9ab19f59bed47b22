#!/usr/bin/env python3
"""Self-test of the benchmark at tiny sizes (a few minutes, one JVM at a time).

    python3 perfbench/selftest.py

Checks, by running perfbench/run.py in a subprocess with its real arguments:

* every workload, with --trace 0 and --trace 1, exits 0 and prints as its
  last stdout line one JSON object with exactly the keys correct,
  attempted, failed and metrics, where metrics holds every end_to_end
  (trace 0) or per_layer (trace 1) metric of BENCHMARK.json, each with
  its unit, and the outputs check passes;
* a planted wrong expected span drives failed above 0 (failed_ratio > 0)
  and correct to false, on both workloads;
* in a directory holding only BENCHMARK.json and the benchmark's files,
  the benchmark exits non-zero without printing a result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TINY_DOCS = {"backfill": 40, "stream_ingest": 12}


def run(workload: str, trace: int, *extra: str, cwd: str = ROOT) -> tuple[int, str]:
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace),
           "--docs", str(TINY_DOCS[workload]), *extra]
    p = subprocess.run(cmd, cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       text=True, timeout=600)
    return p.returncode, p.stdout


def result_of(stdout: str) -> dict:
    lines = stdout.strip().splitlines()
    if not lines:
        raise AssertionError("no output")
    return json.loads(lines[-1])


def check_shape(res: dict, wanted: list[dict], label: str) -> None:
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        raise AssertionError(f"{label}: top-level keys {sorted(res)}")
    if not (isinstance(res["attempted"], int) and res["attempted"] >= 1
            and isinstance(res["failed"], int)):
        raise AssertionError(f"{label}: attempted/failed {res['attempted']}/{res['failed']}")
    got = res["metrics"]
    names = [m["name"] for m in wanted]
    if sorted(got) != sorted(names):
        raise AssertionError(f"{label}: metrics {sorted(set(got) ^ set(names))} differ")
    for m in wanted:
        v = got[m["name"]]
        if v.get("unit") != m["unit"] or not isinstance(v.get("value"), (int, float)):
            raise AssertionError(f"{label}: {m['name']} = {v}, want unit {m['unit']}")


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for w in (x["name"] for x in spec["workloads"]):
        for trace, wanted in ((0, spec["end_to_end"]), (1, spec["per_layer"])):
            label = f"{w} trace={trace}"
            code, out = run(w, trace)
            if code != 0:
                raise AssertionError(f"{label}: exit {code}")
            res = result_of(out)
            check_shape(res, wanted, label)
            if not res["correct"] or res["failed"]:
                raise AssertionError(f"{label}: outputs check failed: {res}")
            print(f"ok  {label}: {len(res['metrics'])} metrics with units, "
                  f"{res['attempted']} deliveries, 0 failed")

    for w in ("backfill", "stream_ingest"):
        code, out = run(w, 0, "--plant-wrong-span")
        res = result_of(out)
        if code != 0 or res["correct"] or res["failed"] == 0:
            raise AssertionError(f"{w}: planted wrong span not detected: {res}")
        print(f"ok  {w}: planted wrong span -> failed_ratio "
              f"{res['failed'] / res['attempted']:.2f}")

    bare = os.path.join(ROOT, ".perfbench", f"selftest-{os.getpid()}")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        for p in spec["paths"]:
            shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p),
                            ignore=shutil.ignore_patterns("__pycache__"))
        code, out = run("backfill", 0, cwd=bare)
        if code == 0 or out.strip():
            raise AssertionError(f"bare checkout: exit {code}, stdout {out!r}")
        print(f"ok  bare checkout: exit {code}, no result printed")
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
