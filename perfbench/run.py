#!/usr/bin/env python3
"""Engine benchmark: backfill and stream_ingest.

Usage (from the repository root):

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 20 --trace 0

One process, one JVM, a pinned ``local[--cores]`` master. A run builds (or
reuses) the workload's corpus for ``--seed``, starts the session, runs
two untimed warm-up deliveries (session start + warm-up = ``setup_s``), then
times deliveries back to back for ``--seconds`` of work, checks the
outputs and prints one JSON object as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` reports the
per-layer metrics (see perfbench/tracing.py). A readable report, with
sample counts and the tail percentile used, goes to stderr.

All state lives under ``.perfbench/`` in the repository root: cached
corpora in ``corpus/``, and a per-run directory (Spark local dirs, sink,
checkpoint, event log) that is deleted when the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

WORKLOADS = ("backfill", "stream_ingest")
# docs per delivery: a backfill pass reads the whole corpus
DEFAULT_DOCS = {"backfill": 500, "stream_ingest": 200}
STREAM_BUCKETS = 8
# untimed deliveries before the window, counted in setup_s: after a cold
# start the second delivery still runs ~15 % slower than steady state
WARMUP_DELIVERIES = 2


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--cores", type=int, default=4, help="k in local[k]")
    p.add_argument("--docs", type=int, default=None,
                   help="docs per delivery (default per workload; self-test uses tiny sizes)")
    p.add_argument("--plant-wrong-span", action="store_true",
                   help="self-test: corrupt one expected span so the check must fail")
    return p.parse_args(argv)


def _workload(args, cache: str, partitions: int):
    from perfbench import corpus
    from perfbench.workloads import BatchPass, StreamIngest

    n = args.docs or DEFAULT_DOCS[args.workload]
    if args.workload == "stream_ingest":
        return StreamIngest(corpus.Deliveries(cache, args.seed, n), partitions, STREAM_BUCKETS)
    return BatchPass(corpus.backfill_corpus(cache, args.seed, n, n_files=args.cores), partitions)


def check(engine, wl, window, args, timed_from: int) -> list[str]:
    """Output check, outside timing; failures are folded into window.failed."""
    problems: list[str] = []
    wl.check(engine.spark, window, problems, timed_from, plant=args.plant_wrong_span)
    return problems


def end_to_end(window, setup_s: float, rss_mb: float) -> tuple[dict, list[str]]:
    from perfbench import stats

    pct, tail_s = stats.tail(window.seconds)
    n = len(window.seconds)
    note = (f"delivery_tail_s = p{pct} of n={n} deliveries" if pct is not None else
            f"delivery_tail_s = median only: n={n} deliveries, a tail needs "
            f">= {2 * stats.TAIL_MIN_BEYOND}")
    metrics = {
        "docs_per_s": (window.docs_per_s(), "docs/s"),
        "delivery_p50_s": (stats.median(window.seconds), "s"),
        "delivery_tail_s": (tail_s, "s"),
        "setup_s": (setup_s, "s"),
        "peak_rss_mb": (rss_mb, "MB"),
    }
    times = " ".join(f"{t:.3f}" for t in window.seconds)
    return metrics, [note, f"delivery seconds: {times}"]


def bench(args, engine, wl) -> dict:
    from perfbench.workloads import open_workload, timed_window, warm_up

    start_s = engine.start(args.cores)
    open_workload(wl, engine, "untraced")
    warmup_s = sum(warm_up(engine, wl) for _ in range(WARMUP_DELIVERIES))
    notes = [f"session.start_s {start_s:.3f} s, session.warmup_s {warmup_s:.3f} s"]
    if args.trace:
        from perfbench import tracing

        metrics, more, windows = tracing.traced(args, engine, wl, start_s, warmup_s, check)
        problems = []
    else:
        timed_from = len(getattr(wl, "delivered", []))
        window = timed_window(engine, wl, args.seconds)
        problems = check(engine, wl, window, args, timed_from)
        metrics, more = end_to_end(window, start_s + warmup_s, engine.rss.total_mb())
        more.append(f"peak rss MB by pid: {engine.rss.breakdown()}")
        windows = [window]
    notes += more
    attempted = sum(w.attempted for w in windows)
    failed = sum(w.failed for w in windows)
    notes.append(f"failed_ratio {failed / attempted:.4f} ratio ({failed}/{attempted} deliveries)")
    notes += [f"check: {p}" for p in problems]
    return {
        "correct": failed == 0 and not problems,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        "_notes": notes,
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "ocr_spark")):
        print(f"perfbench: no ocr_spark package under {ROOT}; nothing to benchmark",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.engine import Engine

    state = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(state, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    partitions = 2 * args.cores  # shuffle partitions, pinned with k
    wl = _workload(args, os.path.join(state, "corpus"), partitions)
    engine = Engine(ROOT, run_dir, partitions)
    try:
        result = bench(args, engine, wl)
    finally:
        wl.close()
        leftover = engine.shutdown()
        shutil.rmtree(run_dir, ignore_errors=True)
    if leftover:
        print(f"perfbench: processes still running after shutdown: {leftover}",
              file=sys.stderr)
        return 3
    for line in result.pop("_notes"):
        print(f"[{args.workload} trace={args.trace}] {line}", file=sys.stderr)
    for name, m in result["metrics"].items():
        print(f"[{args.workload} trace={args.trace}] {name} {m['value']:.6g} {m['unit']}",
              file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
