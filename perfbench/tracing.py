"""Traced run (``--trace 1``): per-layer metrics from the benchmark's own files.

After run.py's cold start and warm-up, the session is restarted with the
Spark event log on and every job labelled ``setJobDescription("layer:…")``,
and the run gathers three kinds of layer data:

* **Prefix ladder** (backfill): cumulative prefixes of the public
  operators, each materialized into the noop sink —
  scan → explode_spans+attach_payloads → salted_repartition →
  extract_fields → outputs (build_pipeline's two tables). A layer's self
  time is its prefix time minus the previous prefix's. Two side rungs
  branch off the repartition and apply ``assemble.split_pdf_pages`` and
  ``assemble.reassemble_pages`` to the corpus's oversized PDFs the way
  ``extract_fields_paged`` does, so the page-split path stays measured
  although no end-to-end workload runs it.
* **Event log**, parsed after the session stops: executor run time, JVM
  CPU, GC, shuffle, spill, input rows and task skew per labelled layer;
  broadcast size from the SQL plan metrics.
* **In-process timings**: the ``kernel`` functions on a slice of the
  workload's span rows (resolve per kind, each extractor family inside
  ``fields_batch`` via wrappers, ``spans_from_fields``), and the
  ``checkpointed_write`` commits that ``run_stream`` makes (recorded by
  ``StreamIngest``) together with the streaming query's progress.

``trace.overhead`` compares the traced window's docs/s with that of two
untraced quarter-length windows around it. For backfill one pass also runs at
``local[1]`` to give ``scale.efficiency_1_to_k``. Metrics that do not apply to a workload
(the manifest sink and streaming on backfill, the ladder on
stream_ingest, local[1] on stream_ingest) are 0.
"""

from __future__ import annotations

import collections
import glob
import json
import os
import time

import pandas as pd

from perfbench import stats
from perfbench.engine import noop
from perfbench.workloads import StreamIngest, open_workload, timed_window, warm_up

# every per-layer metric, in BENCHMARK.json order: name → unit
PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "sources.scan.s": "s",
    "sources.scan.rows": "rows",
    "operators.extract.explode_attach.s": "s",
    "operators.extract.explode_attach.broadcast_bytes": "bytes",
    "operators.extract.repartition.s": "s",
    "operators.extract.repartition.shuffle_write_bytes": "bytes",
    "operators.extract.repartition.task_skew": "ratio",
    "operators.extract.kernel_stage.s": "s",
    "operators.extract.kernel_stage.cpu_s": "s",
    "operators.extract.kernel_stage.task_skew": "ratio",
    "operators.extract.kernel_stage.spill_bytes": "bytes",
    "operators.extract.kernel_stage.gc_s": "s",
    "operators.extract.page_split.s": "s",
    "operators.extract.reassemble.s": "s",
    "operators.extract.reassemble.shuffle_bytes": "bytes",
    "operators.extract.outputs.s": "s",
    "operators.extract.outputs.fields_cache_bytes": "bytes",
    "kernel.resolve.html.s": "s",
    "kernel.resolve.pdf.s": "s",
    "kernel.llm.s": "s",
    "kernel.swiss.s": "s",
    "kernel.basic.s": "s",
    "kernel.normalize.s": "s",
    "kernel.lattice.s": "s",
    "kernel.spans_from_fields.s": "s",
    "kernel.spans": "count",
    "kernel.chars": "count",
    "streaming.run_s": "s",
    "streaming.microbatch_s": "s",
    "streaming.query_overhead_s": "s",
    "streaming.batches_per_delivery": "count",
    "sources.manifests.commit_s": "s",
    "sources.manifests.files_written": "count",
    "sources.manifests.bytes_written": "bytes",
    "sources.manifests.manifest_files": "count",
    "sources.manifests.buckets_skipped": "count",
    "sources.manifests.commit_growth": "ratio",
    "trace.overhead": "ratio",
    "trace.layer_sum_ratio": "ratio",
    "scale.efficiency_1_to_k": "ratio",
}

LADDER_REPS = 2
KERNEL_SLICE_DOCS = 120
KERNEL_REPS = 3
SCALE_PASSES = 1

_PAGE_DDL = "doc_id string, kind string, media_ref string, offset int, page_no int, page_text string"
_RESOLVED_DDL = "doc_id string, kind string, media_ref string, offset int, content string"


def _split_pages(it):
    from ocr_spark.kernel import assemble

    for batch in it:
        yield assemble.split_pdf_pages(batch)


# --------------------------------------------------------------------------
# prefix ladder
# --------------------------------------------------------------------------


def _ladder(wl, spark, partitions: int):
    """[(rung, parent rung, fn)] — each fn materializes one cumulative
    prefix; a rung's self time is its time minus its parent's. The main
    chain is one inline pass; page_split and reassemble branch off
    repartition and apply the page-split path of ``extract_fields_paged``
    to the corpus's oversized PDFs. ``outputs`` returns its PipelineFrames
    (still cached)."""
    from pyspark.sql import functions as F

    from ocr_spark.kernel import assemble
    from ocr_spark.operators.extract import (
        OVERSIZE_PAYLOAD_BYTES, attach_payloads, build_pipeline, explode_spans,
        extract_fields, salted_repartition,
    )

    docs, media = wl.docs, wl.media
    rows = attach_payloads(explode_spans(docs), media)
    rep = salted_repartition(rows, partitions)

    def scan():
        noop(docs)
        noop(media)

    def pages():
        big = rep.filter((F.col("kind") == "pdf")
                         & (F.length("payload") > OVERSIZE_PAYLOAD_BYTES))
        return big.mapInPandas(_split_pages, schema=_PAGE_DDL)

    def reassembled():
        return (pages().repartition(partitions, "doc_id", "offset")
                .groupBy("doc_id", "offset")
                .applyInPandas(assemble.reassemble_pages, schema=_RESOLVED_DDL))

    def outputs():
        frames = build_pipeline(spark, docs, media, num_partitions=partitions)
        noop(frames.extracted_spans)
        noop(frames.invoices)
        return frames

    return [
        ("scan", None, scan),
        ("explode_attach", "scan", lambda: noop(rows)),
        ("repartition", "explode_attach", lambda: noop(rep)),
        ("page_split", "repartition", lambda: noop(pages())),
        ("reassemble", "page_split", lambda: noop(reassembled())),
        ("kernel_stage", "repartition", lambda: noop(extract_fields(rep))),
        ("outputs", "kernel_stage", outputs),
    ]


# the rungs that make up one pass, in order; their self times sum to it
PASS_LAYERS = ("scan", "explode_attach", "repartition", "kernel_stage", "outputs")


class Ladder:
    """Runs one rep of the prefix ladder per call (LADDER_REPS at most),
    each rung labelled ``layer:<rung>:<rep>``; ``reps`` holds per-rung
    lists of {"s", "cpu_s", "cached"}. Called between the passes of the
    traced window, so rungs and passes see the same JVM warm-up."""

    def __init__(self, engine, wl):
        self.engine = engine
        self.reps = collections.defaultdict(list)
        self._rungs = _ladder(wl, engine.spark, engine.partitions)
        self.parent = {name: parent for name, parent, _ in self._rungs}
        self._done = 0

    def __call__(self) -> None:
        if self._done == LADDER_REPS:
            return
        engine, spark = self.engine, self.engine.spark
        sc = spark.sparkContext
        for name, _, fn in self._rungs:
            sc.setJobDescription(f"layer:{name}:{self._done}")
            cpu0 = engine.worker_cpu_seconds()
            t0 = time.perf_counter()
            frames = fn()
            dt = time.perf_counter() - t0
            self.reps[name].append({"s": dt, "cpu_s": engine.worker_cpu_seconds() - cpu0,
                                    "cached": _cached_bytes(spark) if frames else 0})
            if frames:
                frames.unpersist()
            engine.sample()
        sc.setJobDescription("layer:pass")
        self._done += 1


def _cached_bytes(spark) -> int:
    info = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in info)


def self_times(ladder: "Ladder") -> dict[str, float]:
    """Median over reps of (rung time - parent rung time)."""
    out = {}
    for name, reps in ladder.reps.items():
        parent = ladder.reps.get(ladder.parent[name])
        out[name] = stats.median([r["s"] - (parent[k]["s"] if parent else 0.0)
                                  for k, r in enumerate(reps)])
    return out


# --------------------------------------------------------------------------
# event log
# --------------------------------------------------------------------------


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def _broadcast_size_ids(plan: dict) -> set[int]:
    ids, todo = set(), [plan]
    while todo:
        node = todo.pop()
        if node.get("nodeName") == "BroadcastExchange":
            ids |= {m["accumulatorId"] for m in node.get("metrics", [])
                    if m.get("name") == "data size"}
        todo.extend(node.get("children", []))
    return ids


def parse_event_log(path: str) -> dict[str, dict]:
    """label → {"stages": [stage dicts], "broadcast_bytes": float}."""
    stage_label: dict[int, str] = {}
    exec_label: dict[int, str] = {}
    exec_bcast: dict[int, set] = collections.defaultdict(set)
    accum: dict[int, float] = {}
    task_ms: dict[int, list] = collections.defaultdict(list)
    stages: dict[int, dict] = {}
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            ev = e["Event"]
            if ev == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                label = props.get("spark.job.description")
                if not label:
                    continue
                for sid in e["Stage IDs"]:
                    stage_label[sid] = label
                if props.get("spark.sql.execution.id") is not None:
                    exec_label[int(props["spark.sql.execution.id"])] = label
            elif ev == "SparkListenerTaskEnd":
                m = e.get("Task Metrics") or {}
                task_ms[e["Stage ID"]].append(_num(m.get("Executor Run Time")))
            elif ev == "SparkListenerStageCompleted":
                si = e["Stage Info"]
                acc = {a["Name"]: _num(a.get("Value")) for a in si.get("Accumulables", [])}
                g = lambda k: acc.get("internal.metrics." + k, 0.0)  # noqa: E731
                stages[si["Stage ID"]] = {
                    "run_ms": g("executorRunTime"),
                    "cpu_ns": g("executorCpuTime"),
                    "gc_ms": g("jvmGCTime"),
                    "shuffle_write": g("shuffle.write.bytesWritten"),
                    "shuffle_read": g("shuffle.read.localBytesRead")
                    + g("shuffle.read.remoteBytesRead"),
                    "spill_disk": g("diskBytesSpilled"),
                    "input_rows": g("input.recordsRead"),
                }
            elif ev.endswith(("SparkListenerSQLExecutionStart",
                              "SparkListenerSQLAdaptiveExecutionUpdate")):
                exec_bcast[e["executionId"]] |= _broadcast_size_ids(e.get("sparkPlanInfo") or {})
            elif ev.endswith("SparkListenerDriverAccumUpdates"):
                for aid, v in e.get("accumUpdates", []):
                    accum[aid] = max(accum.get(aid, 0.0), _num(v))
    out: dict[str, dict] = collections.defaultdict(lambda: {"stages": [], "broadcast_bytes": 0.0})
    for sid, st in stages.items():
        if sid in stage_label:
            out[stage_label[sid]]["stages"].append({**st, "task_ms": task_ms.get(sid, [])})
    for xid, label in exec_label.items():
        out[label]["broadcast_bytes"] += sum(accum.get(a, 0.0) for a in exec_bcast.get(xid, ()))
    return out


def _skew(task_ms: list[float]) -> float:
    med = stats.median(task_ms)
    return max(task_ms) / med if task_ms and med > 0 else 0.0


def _reduce_stages(stages: list[dict]) -> list[dict]:
    """Stages that read a shuffle (the work after an exchange)."""
    return [s for s in stages if s["shuffle_read"] > 0]


def event_metrics(evlog: dict, ladder: dict) -> dict[str, float]:
    """Median over ladder reps of each layer's event-log figures."""
    def per_rep(name, fn):
        return stats.median([fn(evlog.get(f"layer:{name}:{r}", {"stages": [], "broadcast_bytes": 0.0}))
                             for r in range(len(ladder.get(name, [])))])

    def heaviest_skew(layer):
        red = _reduce_stages(layer["stages"])
        return _skew(max(red, key=lambda s: s["run_ms"])["task_ms"]) if red else 0.0

    def shuffle_write(layer):
        return sum(s["shuffle_write"] for s in layer["stages"])

    def kernel_sum(key):
        return lambda layer: sum(s[key] for s in _reduce_stages(layer["stages"]))

    m = {
        "sources.scan.rows": per_rep("scan", lambda l: sum(s["input_rows"] for s in l["stages"])),
        "operators.extract.explode_attach.broadcast_bytes":
            per_rep("explode_attach", lambda l: l["broadcast_bytes"]),
        "operators.extract.repartition.shuffle_write_bytes": per_rep("repartition", shuffle_write),
        "operators.extract.repartition.task_skew": per_rep("repartition", heaviest_skew),
        "operators.extract.kernel_stage.task_skew": per_rep("kernel_stage", heaviest_skew),
        "operators.extract.kernel_stage.spill_bytes": per_rep("kernel_stage", kernel_sum("spill_disk")),
        "operators.extract.kernel_stage.gc_s": per_rep("kernel_stage", kernel_sum("gc_ms")) / 1e3,
    }
    jvm_cpu = per_rep("kernel_stage", kernel_sum("cpu_ns")) / 1e9
    py_cpu = stats.median([r["cpu_s"] for r in ladder.get("kernel_stage", [])])
    m["operators.extract.kernel_stage.cpu_s"] = jvm_cpu + py_cpu
    m["operators.extract.reassemble.shuffle_bytes"] = (
        per_rep("reassemble", shuffle_write) - per_rep("page_split", shuffle_write))
    return m


# --------------------------------------------------------------------------
# kernel, timed in the benchmark process
# --------------------------------------------------------------------------


def kernel_rows(spark, docs, media) -> pd.DataFrame:
    """Span rows (+payload) of the first KERNEL_SLICE_DOCS docs, built by
    the public explode/attach operators."""
    from ocr_spark.operators.extract import attach_payloads, explode_spans

    first = docs.orderBy("doc_id").limit(KERNEL_SLICE_DOCS)
    return attach_payloads(explode_spans(first), media).toPandas()


def kernel_timings(rows: pd.DataFrame) -> dict[str, float]:
    """Single-thread kernel timings on ``rows``, median of KERNEL_REPS."""
    from ocr_spark.kernel import assemble, basic, llm, swiss

    families = {"kernel.llm.s": (llm, "extract"), "kernel.swiss.s": (swiss, "extract"),
                "kernel.basic.s": (basic, "extract"),
                "kernel.normalize.s": (assemble, "normalize_content")}
    reps = collections.defaultdict(list)

    def timed(fn, *a, **k):
        t0 = time.perf_counter()
        out = fn(*a, **k)
        return out, time.perf_counter() - t0

    for _ in range(KERNEL_REPS):
        for kind in ("html", "pdf"):
            _, dt = timed(assemble.resolve_batch, rows[rows["kind"] == kind])
            reps[f"kernel.resolve.{kind}.s"].append(dt)
        resolved = assemble.resolve_batch(rows)
        spent = dict.fromkeys(families, 0.0)
        originals = {name: getattr(mod, attr) for name, (mod, attr) in families.items()}

        def wrap(name, fn):
            def w(*a, **k):
                t0 = time.perf_counter()
                try:
                    return fn(*a, **k)
                finally:
                    spent[name] += time.perf_counter() - t0
            return w

        try:
            for name, (mod, attr) in families.items():
                setattr(mod, attr, wrap(name, originals[name]))
            fields, total = timed(assemble.fields_batch, resolved, companies=[],
                                  suppliers=[], emit_raw_text=False)
        finally:
            for name, (mod, attr) in families.items():
                setattr(mod, attr, originals[name])
        for name, s in spent.items():
            reps[name].append(s)
        reps["kernel.lattice.s"].append(total - sum(spent.values()))
        _, dt = timed(assemble.spans_from_fields, fields)
        reps["kernel.spans_from_fields.s"].append(dt)
    out = {k: stats.median(v) for k, v in reps.items()}
    out["kernel.spans"] = float(len(rows))
    out["kernel.chars"] = float(resolved["content"].fillna("").str.len().sum())
    return out


# --------------------------------------------------------------------------
# streaming sink
# --------------------------------------------------------------------------


def stream_metrics(wl, timed: list[dict]) -> dict[str, float]:
    run, micro, overhead, batches, commits, files, nbytes = [], [], [], [], [], [], []
    skipped = 0
    for d in timed:
        if "progress" not in d:
            continue
        mb = sum(p["durationMs"].get("addBatch", 0) for p in d["progress"]) / 1e3
        run.append(d["seconds"])
        micro.append(mb)
        overhead.append(d["seconds"] - mb)
        batches.append(sum(1 for p in d["progress"] if p["numInputRows"] > 0))
        for c in d["commits"]:
            commits.append(c["seconds"])
            skipped += c["buckets_skipped"]
            paths = glob.glob(os.path.join(wl.out, "data", "bucket=*",
                                           f"epoch={c['epoch']}", "*.parquet"))
            files.append(len(paths))
            nbytes.append(sum(os.path.getsize(p) for p in paths))
    q = max(1, len(commits) // 4)
    return {
        "streaming.run_s": stats.median(run),
        "streaming.microbatch_s": stats.median(micro),
        "streaming.query_overhead_s": stats.median(overhead),
        "streaming.batches_per_delivery": stats.median(batches),
        "sources.manifests.commit_s": stats.median(commits),
        "sources.manifests.files_written": stats.median(files),
        "sources.manifests.bytes_written": stats.median(nbytes),
        "sources.manifests.manifest_files": float(wl.manifest_files()),
        "sources.manifests.buckets_skipped": float(skipped),
        "sources.manifests.commit_growth": stats.ratio(stats.median(commits[-q:]),
                                                       stats.median(commits[:q])),
    }


# --------------------------------------------------------------------------
# the traced run
# --------------------------------------------------------------------------


def _window(engine, wl, args, check, seconds: float, label: str | None = None,
            before_each=None):
    timed_from = len(getattr(wl, "delivered", []))
    sc = engine.spark.sparkContext
    sc.setJobDescription(label)
    window = timed_window(engine, wl, seconds, before_each)
    sc.setJobDescription(None)
    problems = check(engine, wl, window, args, timed_from)
    return window, timed_from, problems


def _restart(engine, wl, phase: str, cores: int, event_log_dir: str | None = None) -> None:
    engine.stop()
    engine.start(cores, event_log_dir=event_log_dir)
    open_workload(wl, engine, phase)
    warm_up(engine, wl)


def traced(args, engine, wl, start_s: float, warmup_s: float, check):
    """Per-layer metrics, after run.py's cold start and warm-up.

    Windows, each after a session restart in the same JVM except the
    first: untraced (quarter length), traced (half length, event log on,
    labelled jobs, one ladder rep before each pass), untraced again
    (quarter length), so a traced run times as much work as an untraced
    one and stays well inside the per-run time limit. The
    two untraced windows bracket the traced window, so JVM warm-up drift
    cancels out of trace.overhead. For backfill a last session runs at
    local[1]. Output-check problems come back as notes and are counted in
    the windows' ``failed``. Returns ({name: (value, unit)}, notes, [windows])."""
    m = dict.fromkeys(PER_LAYER, 0.0)
    m["session.start_s"], m["session.warmup_s"] = start_s, warmup_s
    stream = isinstance(wl, StreamIngest)
    evdir = os.path.join(engine.run_dir, "evlog")
    before, _, notes = _window(engine, wl, args, check, args.seconds / 4)

    _restart(engine, wl, "traced", args.cores, evdir)
    ladder = None if stream else Ladder(engine, wl)
    traced_w, timed_from, more = _window(engine, wl, args, check, args.seconds / 2,
                                         "layer:pass", ladder)
    notes += more
    if stream:
        m.update(stream_metrics(wl, wl.delivered[timed_from:]))
        first = wl.delivered[0]
        rows = kernel_rows(engine.spark, engine.spark.read.parquet(first["docs"]),
                           engine.spark.read.parquet(first["media"]))
    else:
        while ladder._done < LADDER_REPS:  # window ended before every rep ran
            ladder()
        rows = kernel_rows(engine.spark, wl.docs, wl.media)
    engine.stop()  # flushes and closes the event log
    m.update(kernel_timings(rows))
    if not stream:
        selfs = self_times(ladder)
        for name, s in selfs.items():
            m["sources.scan.s" if name == "scan" else f"operators.extract.{name}.s"] = s
        m["operators.extract.outputs.fields_cache_bytes"] = stats.median(
            [r["cached"] for r in ladder.reps["outputs"]])
        logs = glob.glob(os.path.join(evdir, "*"))
        if len(logs) != 1:
            raise RuntimeError(f"expected one event log in {evdir}, found {logs}")
        m.update(event_metrics(parse_event_log(logs[0]), ladder.reps))
        wall = stats.median(traced_w.seconds)
        layer_sum = sum(selfs[n] for n in PASS_LAYERS)
        m["trace.layer_sum_ratio"] = stats.ratio(layer_sum, wall)
        notes.append(f"layers {'+'.join(PASS_LAYERS)} sum {layer_sum:.3f} s vs traced "
                     f"pass wall {wall:.3f} s (ratio {m['trace.layer_sum_ratio']:.3f})")

    _restart(engine, wl, "untraced", args.cores)
    after, _, more = _window(engine, wl, args, check, args.seconds / 4)
    engine.stop()
    notes += more
    plain = stats.median([before.docs_per_s(), after.docs_per_s()])
    m["trace.overhead"] = 1.0 - stats.ratio(traced_w.docs_per_s(), plain)
    notes.append(f"trace.overhead: traced {traced_w.docs_per_s():.2f} docs/s vs untraced "
                 f"{before.docs_per_s():.2f} before and {after.docs_per_s():.2f} after")
    windows = [before, traced_w, after]
    if args.workload == "backfill":
        m["scale.efficiency_1_to_k"], note = scale_efficiency(args, engine, wl, after)
        notes.append(note)
    return {k: (v, PER_LAYER[k]) for k, v in m.items()}, notes, windows


def scale_efficiency(args, engine, wl, at_k) -> tuple[float, str]:
    """(t_1 / t_k) / k: one pass over the corpus at local[1] vs the
    median pass of window ``at_k`` at local[k], same partition count."""
    engine.start(1)
    open_workload(wl, engine, "scale")
    warm_up(engine, wl)
    t1 = []
    for _ in range(SCALE_PASSES):
        t0 = time.perf_counter()
        wl.run(engine.spark)
        t1.append(time.perf_counter() - t0)
        wl.settle(True, t1[-1], last=False)
    engine.stop()
    tk = stats.median(at_k.seconds)
    eff = stats.ratio(stats.median(t1) / tk, args.cores) if tk else 0.0
    return eff, (f"scale: pass {stats.median(t1):.3f} s at local[1] vs {tk:.3f} s at "
                 f"local[{args.cores}] -> efficiency {eff:.3f}")
