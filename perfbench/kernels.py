"""Kernel micro-layer: single-process, Spark-free timings of the three
Python kernels the extraction path runs per document, over the first
documents of the run's own seeded inputs (the same bytes the Spark passes
see).  This is the single-threaded baseline that separates kernel self
time from Spark scheduling and the Arrow channel.
"""

from __future__ import annotations

import statistics
import time

import numpy as np

from ocr_spark.functions.html_extract import DEFAULT_MAX_HTML_BYTES, extract_html_doc
from ocr_spark.functions.layout import page_text
from ocr_spark.functions.pdf import pdf_glyphs
from inputs import pages_chunk, pdf_chunk

REPEATS = 5


def _pages(rows: list[tuple]) -> list[tuple]:
    """Split pdf_glyphs rows into per-page column arrays, the way
    ``pdf_ops.pdf_doc_records`` hands them to ``page_text``."""
    out, start = [], 0
    for i in range(1, len(rows) + 1):
        if i == len(rows) or rows[i][0] != rows[start][0]:
            chunk = rows[start:i]
            out.append(
                (
                    np.array([r[1] for r in chunk], dtype=object),
                    np.array([r[2] for r in chunk]),
                    np.array([r[3] for r in chunk]),
                    np.array([r[4] for r in chunk]),
                    np.array([r[5] for r in chunk]),
                )
            )
            start = i
    return out


def _median_us(fn, items: list) -> float:
    times = []
    for _ in range(REPEATS):
        t0 = time.perf_counter()
        for it in items:
            fn(it)
        times.append(time.perf_counter() - t0)
    return statistics.median(times) / max(len(items), 1) * 1e6


def kernel_layer(seed: int, n_html: int, n_pdf: int) -> dict:
    docs = pages_chunk((seed, 0, n_html))["html"]
    payloads = pdf_chunk((seed, 0, n_pdf))["pdf"]
    pages = [p for payload in payloads for p in _pages(pdf_glyphs(payload)[0])]
    return {
        "html_extract.us_per_doc": _median_us(
            lambda d: extract_html_doc(d, DEFAULT_MAX_HTML_BYTES), docs
        ),
        "pdf.us_per_doc": _median_us(pdf_glyphs, payloads),
        "layout.us_per_page": _median_us(lambda p: page_text(*p), pages),
        "sample": {"html_docs": len(docs), "pdf_docs": len(payloads), "pdf_pages": len(pages)},
    }
