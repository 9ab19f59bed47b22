"""Benchmark inputs: synth corpora keyed by (workload, seed, size).

``ocr_spark.synth`` derives every document from a fixed internal seed and
its doc index, so the benchmark seed picks *which* documents: seed ``s``
owns doc indices ``[s * SEED_STRIDE, (s + 1) * SEED_STRIDE)``, and each
workload takes its own slice of that block. A new seed therefore yields
documents no earlier run has seen, and the same seed yields the same ones.

Corpora are written once under ``<cache>/<workload>-s<seed>-n<size>`` and
reused; generation never runs inside a timed region or set-up. Each
corpus carries ``meta.json`` with its doc/span counts and the expected
``extracted_spans`` of a fixed doc sample (``synth.expected_spans``), used
by the output check.
"""

from __future__ import annotations

import json
import os
import shutil

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from ocr_spark import synth

SEED_STRIDE = 100_000
_OFFSETS = {"backfill": 0, "stream_ingest": 50_000}
SAMPLE_DOCS = 8  # fixed per-corpus sample compared span-for-span


def doc_start(workload: str, seed: int) -> int:
    if seed < 0:
        raise ValueError("seed must be >= 0")
    return seed * SEED_STRIDE + _OFFSETS[workload]


def _expected(indices: list[int]) -> dict[str, list[dict]]:
    out = {}
    for i in indices:
        for doc_id, spans in synth.expected_spans(1, start=i):
            out[doc_id] = spans
    return out


def _write_parts(out_dir: str, indices: list[int], n_files: int) -> tuple[int, int]:
    """documents/ and media/ parquet parts for the given doc indices;
    returns (docs, spans)."""
    os.makedirs(os.path.join(out_dir, "documents"))
    os.makedirs(os.path.join(out_dir, "media"))
    per_file = -(-len(indices) // n_files)
    spans = 0
    for part, lo in enumerate(range(0, len(indices), per_file)):
        docs, media = [], []
        for i in indices[lo : lo + per_file]:
            d, m = synth.gen_doc(i)
            docs.append(d)
            media.extend(m)
            spans += len(d["spans"])
        name = f"part-{part:05d}.parquet"
        pq.write_table(
            pa.Table.from_pandas(pd.DataFrame.from_records(docs),
                                 schema=synth.ARROW_DOCUMENTS, preserve_index=False),
            os.path.join(out_dir, "documents", name),
        )
        pq.write_table(
            pa.Table.from_pandas(pd.DataFrame.from_records(media, columns=["media_ref", "payload"]),
                                 schema=synth.ARROW_MEDIA, preserve_index=False),
            os.path.join(out_dir, "media", name),
        )
    return len(indices), spans


def backfill_corpus(cache: str, seed: int, n_docs: int, n_files: int) -> dict:
    """The mixed-kind corpus a ``backfill`` pass reads: ``n_docs``
    consecutive synth docs."""
    path = os.path.join(cache, f"backfill-s{seed}-n{n_docs}")
    meta_path = os.path.join(path, "meta.json")
    if not os.path.exists(meta_path):
        from ocr_spark.operators.extract import OVERSIZE_PAYLOAD_BYTES

        start = doc_start("backfill", seed)
        indices = list(range(start, start + n_docs))
        tmp = path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        docs, spans = _write_parts(tmp, indices, n_files)
        # the sample always holds a doc with an oversized (~100-page) PDF
        # when the corpus has one: the heaviest span kind is checked too
        oversized = [i for i in indices
                     if any(len(m["payload"]) > OVERSIZE_PAYLOAD_BYTES for m in synth.gen_doc(i)[1])]
        step = max(1, n_docs // SAMPLE_DOCS)
        sample = sorted(set(indices[::step][:SAMPLE_DOCS] + oversized[:1]))
        meta = {"path": path, "docs": docs, "spans": spans, "expected": _expected(sample)}
        with open(os.path.join(tmp, "meta.json"), "w") as f:
            json.dump(meta, f)
        shutil.rmtree(path, ignore_errors=True)
        os.replace(tmp, path)
    with open(meta_path) as f:
        return json.load(f)


class Deliveries:
    """``stream_ingest`` input: delivery ``i`` is ``docs_per_delivery``
    consecutive docs, one documents file plus its media file, generated
    on first use and cached."""

    SAMPLE_PER_DELIVERY = 2

    def __init__(self, cache: str, seed: int, docs_per_delivery: int):
        self.dir = os.path.join(cache, f"stream_ingest-s{seed}-n{docs_per_delivery}")
        self.start = doc_start("stream_ingest", seed)
        self.size = docs_per_delivery
        os.makedirs(self.dir, exist_ok=True)

    def get(self, i: int) -> dict:
        """{"docs": path, "media": path, "n_docs", "expected"} for delivery i."""
        base = os.path.join(self.dir, f"{i:05d}")
        meta_path = base + ".json"
        if not os.path.exists(meta_path):
            lo = self.start + i * self.size
            docs, media = synth.synth_frames(self.size, start=lo)
            pq.write_table(pa.Table.from_pandas(docs, schema=synth.ARROW_DOCUMENTS,
                                                preserve_index=False), base + ".docs.parquet")
            pq.write_table(pa.Table.from_pandas(media, schema=synth.ARROW_MEDIA,
                                                preserve_index=False), base + ".media.parquet")
            meta = {"docs": base + ".docs.parquet", "media": base + ".media.parquet",
                    "n_docs": self.size,
                    "expected": _expected(list(range(lo, lo + self.SAMPLE_PER_DELIVERY)))}
            with open(meta_path + ".tmp", "w") as f:
                json.dump(meta, f)
            os.replace(meta_path + ".tmp", meta_path)
        with open(meta_path) as f:
            return json.load(f)
