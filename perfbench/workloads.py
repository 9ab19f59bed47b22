"""The three workloads, their timed window and their output checks.

A *delivery* is the unit a user waits for: one ``build_pipeline`` pass
over the whole corpus for ``backfill``, one landed
file drained by ``run_stream(available_now=True)`` for ``stream_ingest``.
Each workload splits a delivery into ``prepare`` (untimed: land inputs),
``run`` (timed) and ``settle`` (untimed: release the pass's cache,
record per-delivery facts). ``check`` runs once after a window.
"""

from __future__ import annotations

import glob
import os
import shutil
import sys
import time
import traceback
from dataclasses import dataclass, field

from perfbench.engine import noop


@dataclass
class Window:
    seconds: list[float] = field(default_factory=list)  # successful deliveries
    busy_s: float = 0.0  # summed duration of every timed delivery
    docs: int = 0
    attempted: int = 0
    failed: int = 0

    def docs_per_s(self) -> float:
        return self.docs / self.busy_s if self.busy_s else 0.0


def timed_window(engine, wl, seconds: float, before_each=None) -> Window:
    """Run deliveries back to back until ``seconds`` of timed work are done
    (at least one). A delivery that raises is counted as failed.
    ``before_each`` (untimed) runs before every delivery."""
    w = Window()
    while True:
        if before_each is not None:
            before_each()
        wl.prepare()
        t0 = time.perf_counter()
        try:
            n = wl.run(engine.spark)
            dt = time.perf_counter() - t0
        except Exception:  # noqa: BLE001 — a failed delivery is counted, the run goes on
            dt = time.perf_counter() - t0
            traceback.print_exc(file=sys.stderr)
            w.failed += 1
            ok = False
        else:
            w.seconds.append(dt)
            w.docs += n
            ok = True
        w.attempted += 1
        w.busy_s += dt
        last = w.busy_s >= seconds
        wl.settle(ok, dt, last)
        engine.sample()
        if last:
            return w


def open_workload(wl, engine, phase: str) -> None:
    """Bind ``wl`` to the engine's current session (stream_ingest also
    gets fresh documents/sink/checkpoint dirs for ``phase``)."""
    if isinstance(wl, StreamIngest):
        wl.open(engine.spark, os.path.join(engine.run_dir, phase))
    else:
        wl.open(engine.spark)


def warm_up(engine, wl) -> float:
    """One untimed delivery: Python workers, codegen, first-touch caches."""
    t0 = time.perf_counter()
    wl.prepare()
    wl.run(engine.spark)
    wl.settle(True, time.perf_counter() - t0, last=False)
    engine.sample()
    return time.perf_counter() - t0


def _span_dicts(spans) -> list[dict]:
    return [{"kind": s["kind"], "text": s["text"], "media_ref": s["media_ref"],
             "offset": int(s["offset"])} for s in spans]


def _compare_sample(rows, expected: dict, problems: list[str]) -> set[str]:
    """Span-for-span equality of extracted_spans rows against the synth
    oracle; returns the doc_ids that mismatch or are missing."""
    got = {r["doc_id"]: _span_dicts(r["spans"]) for r in rows}
    bad = set()
    for doc_id, want in expected.items():
        if got.get(doc_id) != want:
            bad.add(doc_id)
            problems.append(f"{doc_id}: extracted spans differ from synth.expected_spans")
    return bad


def _plant_wrong_span(expected: dict) -> dict:
    """Self-test hook: corrupt one expected span so the check must fail."""
    out = {k: [dict(s) for s in v] for k, v in expected.items()}
    first = sorted(out)[0]
    out[first][0]["text"] = (out[first][0]["text"] or "") + " planted"
    return out


class BatchPass:
    """``backfill``: each delivery is one ``build_pipeline`` pass (inline
    kernel path, the default) over the corpus, ``extracted_spans`` and
    ``invoices`` written to the noop sink."""

    def __init__(self, meta: dict, partitions: int):
        self.meta = meta
        self.partitions = partitions
        self._frames = []

    def open(self, spark) -> None:
        from ocr_spark.sources.tables import load_span_documents

        self._frames = []  # any cached pass belonged to the previous session
        self.docs, self.media = load_span_documents(spark, self.meta["path"])

    def prepare(self) -> None:
        pass

    def run(self, spark) -> int:
        from ocr_spark.operators.extract import build_pipeline

        frames = build_pipeline(spark, self.docs, self.media, num_partitions=self.partitions)
        self._frames.append(frames)
        noop(frames.extracted_spans)
        noop(frames.invoices)
        return self.meta["docs"]

    def settle(self, ok: bool, seconds: float, last: bool) -> None:
        # Release the pass's FIELDS cache before the next pass: the next
        # build_pipeline has an identical plan and would read this cache
        # instead of running the kernel. The last pass of a window stays
        # cached for check().
        if self._frames and not last:
            self._frames.pop().unpersist()

    def check(self, spark, window: Window, problems: list[str], timed_from: int,
              plant: bool = False) -> None:
        """Checks the newest pass. Every pass runs the same code on the
        same corpus, so a failed check fails every timed pass."""
        from pyspark.sql import functions as F

        expected = self.meta["expected"]
        if plant:
            expected = _plant_wrong_span(expected)
        before = len(problems)
        if not self._frames:
            problems.append("no pass completed")
        else:
            frames = self._frames.pop()
            n_docs = frames.extracted_spans.count()
            n_inv = frames.invoices.count()
            if n_docs != self.meta["docs"]:
                problems.append(f"extracted_spans rows {n_docs} != docs {self.meta['docs']}")
            if n_inv != self.meta["spans"]:
                problems.append(f"invoices rows {n_inv} != spans {self.meta['spans']}")
            rows = frames.extracted_spans.filter(F.col("doc_id").isin(list(expected))).collect()
            _compare_sample(rows, expected, problems)
            frames.unpersist()
        if len(problems) > before:
            window.failed = window.attempted

    def close(self) -> None:
        self._frames = []


class StreamIngest:
    """Closed loop: land one delivery file in the documents dir, then
    drain it with ``run_stream(available_now=True)`` into the manifest
    sink. The next delivery lands only after the call returns.

    The sink's ``checkpointed_write`` (as ``run_stream`` calls it) is
    wrapped to record each commit's duration and result."""

    def __init__(self, deliveries, partitions: int, n_buckets: int):
        self.deliveries = deliveries
        self.partitions = partitions
        self.n_buckets = n_buckets
        self.commits: list[dict] = []
        self.delivered: list[dict] = []  # per landed delivery, in order
        self._next = 0
        self._orig_write = None

    def open(self, spark, phase_dir: str) -> None:
        """Fresh documents dir, sink table and checkpoint."""
        from ocr_spark.streaming import pipeline

        self.dir = phase_dir
        shutil.rmtree(phase_dir, ignore_errors=True)
        for sub in ("documents", "media", "staging"):
            os.makedirs(os.path.join(phase_dir, sub))
        self.out = os.path.join(phase_dir, "sink")
        self.checkpoint = os.path.join(phase_dir, "checkpoint")
        self.commits, self.delivered = [], []
        if self._orig_write is None:
            self._orig_write = pipeline.checkpointed_write
            pipeline.checkpointed_write = self._recording_write

    def _recording_write(self, *args, **kwargs):
        t0 = time.perf_counter()
        result = self._orig_write(*args, **kwargs)
        self.commits.append({"seconds": time.perf_counter() - t0, **result})
        return result

    def prepare(self) -> None:
        d = self.deliveries.get(self._next)
        name = f"{self._next:05d}.parquet"
        self._next += 1
        media = os.path.join(self.dir, "media", name)
        shutil.copyfile(d["media"], media)
        staged = os.path.join(self.dir, "staging", name)
        shutil.copyfile(d["docs"], staged)
        os.replace(staged, os.path.join(self.dir, "documents", name))  # atomic landing
        self.delivered.append({**d, "media_path": media, "first_commit": len(self.commits)})

    def run(self, spark) -> int:
        from ocr_spark.streaming.pipeline import run_stream

        d = self.delivered[-1]
        media = spark.read.parquet(d["media_path"])
        q = run_stream(spark, os.path.join(self.dir, "documents"), media, self.out,
                       self.checkpoint, num_partitions=self.partitions,
                       n_buckets=self.n_buckets, available_now=True)
        d["progress"] = [_progress(p) for p in q.recentProgress]
        return d["n_docs"]

    def settle(self, ok: bool, seconds: float, last: bool) -> None:
        d = self.delivered[-1]
        d["commits"] = self.commits[d["first_commit"]:]
        d["ok"] = ok and bool(d["commits"]) and all(
            c["buckets_skipped"] == 0 for c in d["commits"]
        ) and sum(c["rows"] for c in d["commits"]) == d["n_docs"]
        d["seconds"] = seconds

    def check(self, spark, window: Window, problems: list[str], timed_from: int,
              plant: bool = False) -> None:
        """Per-delivery: commits landed every doc with no skipped bucket.
        Whole sink: ``read_committed`` holds exactly the docs delivered,
        and the sampled docs match the synth oracle span for span.
        ``timed_from`` is the index of the first timed delivery."""
        from pyspark.sql import functions as F

        from ocr_spark.sources.manifests import read_committed

        timed = self.delivered[timed_from:]
        if plant and timed:
            timed[0]["expected"] = _plant_wrong_span(timed[0]["expected"])

        committed = read_committed(spark, self.out)
        n = committed.count()
        total = sum(d["n_docs"] for d in self.delivered)
        bad = {id(d) for d in timed if not d.get("ok")}
        if bad:
            problems.append(f"{len(bad)} deliveries committed wrong rows or skipped buckets")
        if n != total:
            problems.append(f"read_committed rows {n} != docs delivered {total}")
            bad = {id(d) for d in timed}
        expected = {k: v for d in timed for k, v in d["expected"].items()}
        rows = committed.filter(F.col("doc_id").isin(list(expected))).collect()
        wrong = _compare_sample(rows, expected, problems)
        bad |= {id(d) for d in timed if wrong & set(d["expected"])}
        # deliveries that raised are already counted in window.failed
        window.failed += sum(1 for d in timed if id(d) in bad and "progress" in d)

    def manifest_files(self) -> int:
        return len(glob.glob(os.path.join(self.out, "manifests", "**", "*.parquet"),
                             recursive=True))

    def close(self) -> None:
        from ocr_spark.streaming import pipeline

        if self._orig_write is not None:
            pipeline.checkpointed_write = self._orig_write
            self._orig_write = None


def _progress(p) -> dict:
    return {"batchId": p.batchId, "numInputRows": p.numInputRows,
            "durationMs": dict(p.durationMs)}
