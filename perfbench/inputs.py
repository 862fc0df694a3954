"""Seeded benchmark inputs, generated through the fixture generator's
per-document functions, plus the goldens the correctness gate checks.

Documents are produced in fixed-size chunks, each with its own
``random.Random`` derived from (seed, kind, chunk), so the same seed gives
the same bytes whether the chunks run in one process or in a pool.
"""

from __future__ import annotations

import multiprocessing
import os
import random

import pyarrow as pa

from ocr_spark.fixtures.generator import (
    FORMAT_VERSION,
    _host_pool,
    _write,
    gen_pages_doc,
    gen_pdf_doc,
)

CHUNK = 500


def pages_chunk(args: tuple[int, int, int]) -> dict:
    seed, start, stop = args
    rng = random.Random(f"perfbench-{seed}-pages-{start}")
    hosts = _host_pool(random.Random(f"perfbench-{seed}-hosts"))
    docs = [gen_pages_doc(rng, i, hosts) for i in range(start, stop)]
    return {
        "url": [d["url"] for d in docs],
        "warc_ts": [d["warc_ts"] for d in docs],
        "html": [d["html"] for d in docs],
        "text": [d["text"] for d in docs],
        "lang": [d["lang"] for d in docs],
        "gold_text": [d["_golden_text"] for d in docs],
        "gold_error": [d["_expect_error_code"] for d in docs],
    }


def pdf_chunk(args: tuple[int, int, int]) -> dict:
    seed, start, stop = args
    rng = random.Random(f"perfbench-{seed}-pdf-{start}")
    out: dict = {"doc_id": [], "pdf": [], "gold_text": [], "gold_error": []}
    for doc_id in range(start, stop):
        pdf, _glyphs, text_rows, err = gen_pdf_doc(rng, doc_id)
        out["doc_id"].append(doc_id)
        out["pdf"].append(pdf)
        # the pdf_doc_text oracle: page texts joined by \n in page order;
        # error documents carry empty text
        out["gold_text"].append("\n".join(t for _p, t in sorted(text_rows)))
        out["gold_error"].append(err)
    return out


def _chunks(seed: int, n: int) -> list[tuple[int, int, int]]:
    return [(seed, s, min(s + CHUNK, n)) for s in range(0, n, CHUNK)]


def _run_chunks(fn, seed: int, n: int, workers: int) -> dict:
    parts: list[dict]
    if workers <= 1 or n <= CHUNK:
        parts = [fn(c) for c in _chunks(seed, n)]
    else:
        ctx = multiprocessing.get_context("spawn")
        with ctx.Pool(workers) as pool:
            parts = pool.map(fn, _chunks(seed, n))
    merged: dict = {k: [] for k in parts[0]}
    for p in parts:
        for k, v in p.items():
            merged[k].extend(v)
    return merged


class Inputs:
    """One workload's input parquet and its goldens (key -> (text, error))."""

    def __init__(self, kind: str, path: str, key_col: str, golden: dict, file_bytes: int):
        self.kind = kind
        self.path = path
        self.key_col = key_col
        self.golden = golden
        self.file_bytes = file_bytes

    @property
    def n_docs(self) -> int:
        return len(self.golden)


def make_inputs(kind: str, seed: int, n_docs: int, out_dir: str, workers: int) -> Inputs:
    """Generate ``n_docs`` html pages or PDFs for ``seed`` into
    ``out_dir/input.parquet`` (the generator's own row-group sizing)."""
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "input.parquet")
    if kind == "html":
        cols = _run_chunks(pages_chunk, seed, n_docs, workers)
        table = pa.table(
            {
                "url": cols["url"],
                "warc_ts": pa.array(cols["warc_ts"], pa.timestamp("us", tz="UTC")),
                "html": pa.array(cols["html"], pa.binary()),
                "text": pa.array(cols["text"], pa.string()),
                "lang": cols["lang"],
            }
        )
        keys, key_col = cols["url"], "url"
    elif kind == "pdf":
        cols = _run_chunks(pdf_chunk, seed, n_docs, workers)
        table = pa.table(
            {
                "doc_id": pa.array(cols["doc_id"], pa.int64()),
                "pdf": pa.array(cols["pdf"], pa.binary()),
            }
        )
        keys, key_col = cols["doc_id"], "doc_id"
    else:
        raise ValueError(f"unknown input kind {kind!r}")
    if len(set(keys)) != len(keys):
        raise RuntimeError(f"generated {kind} keys are not unique for seed {seed}")
    _write(path, table)
    golden = dict(zip(keys, zip(cols["gold_text"], cols["gold_error"])))
    return Inputs(kind, path, key_col, golden, os.path.getsize(path))


def input_manifest(inputs: Inputs) -> dict:
    errors = sum(1 for _t, e in inputs.golden.values() if e is not None)
    return {
        "kind": inputs.kind,
        "docs": inputs.n_docs,
        "file_mb": round(inputs.file_bytes / 1e6, 3),
        "planted_errors": errors,
        "generator_format_version": FORMAT_VERSION,
    }
