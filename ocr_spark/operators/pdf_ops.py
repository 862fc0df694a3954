"""PDF bytes -> glyphs / reading-order text as Spark stages.

Closes the reference's titular front door: it ingests PDF *files*
(reference: src/app/page.tsx:444-452, accept filter :118) and engine A
OCRs the raw bytes (reference: src/ai/flows/extract-data-from-pdf.ts:
114-139).  Here the byte layer is the stdlib parser
(ocr_spark/functions/pdf.py, frozen contract P1-P8) and the layout layer
is the code-point XY-cut kernel (functions/layout.py L1-L4,
``page_text_codes`` — the kernel ``layout_ops.glyphs_to_page_text`` runs)
— so the full engine-A chain runs from raw document bytes with no
fixture-born glyph table in the path.

Structure: each operator is one small emitter run by the shared payload
batch loop (``operators.payloads.map_payloads``, one ``mapInArrow``):
the emitter parses its document once with ``pdf_glyphs`` and appends
glyph rows, page rows, or one doc row.
Each output schema is declared once, as a Spark ``StructType``.  A
document's rows arrive page-contiguous, so ``_page_texts`` cuts pages
with one diff over the page column — no sort, no grouping shuffle.

Scale shape: a single-pass, zero-Exchange plan over the document relation
(the html extraction branch's shape), no per-row Python UDFs, errors
recorded per document (E6).  Per-task memory is bounded by the Arrow
batch (session-tuned) times the largest document (KB-to-MB payloads).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ocr_spark.functions.layout import page_text_codes
from ocr_spark.functions.pdf import pdf_glyphs
from ocr_spark.operators.payloads import map_payloads

PDF_GLYPHS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("page", T.IntegerType(), False),
        T.StructField("glyph_id", T.LongType(), False),
        T.StructField("ch", T.StringType(), False),
        T.StructField("x0", T.DoubleType(), False),
        T.StructField("y0", T.DoubleType(), False),
        T.StructField("x1", T.DoubleType(), False),
        T.StructField("y1", T.DoubleType(), False),
        T.StructField("error", T.StringType(), True),
    ]
)

PDF_PAGE_TEXT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("page", T.IntegerType(), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("error", T.StringType(), True),
    ]
)

PDF_DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("n_pages", T.IntegerType(), False),
        T.StructField("error", T.StringType(), True),
    ]
)


def _page_texts(rows: list[tuple]) -> list[tuple[int, str]]:
    """Page-contiguous ``pdf_glyphs`` rows -> [(page, reading-order text)]:
    one transpose, one utf-32 encode (P7 glyphs are single code points), a
    cut wherever the page changes; a page with no glyphs gets no entry."""
    if not rows:
        return []
    n = len(rows)
    page, ch, *boxes = zip(*rows)
    cp = np.frombuffer("".join(ch).encode("utf-32-le"), dtype="<u4")
    page = np.fromiter(page, np.int64, n)
    boxes = [np.fromiter(b, np.float64, n) for b in boxes]
    cuts = (np.flatnonzero(np.diff(page)) + 1).tolist()
    return [
        (int(page[s]), page_text_codes(cp[s:e], *(b[s:e] for b in boxes)))
        for s, e in zip([0, *cuts], [*cuts, n])
    ]


def _emit_glyphs(out, did, pdf):
    rows, err = pdf_glyphs(pdf)
    if err is not None:
        # E6 sentinel row: the error travels in the row, page/glyph slots
        # zeroed (mirrors sample_frames' frame_idx -1 row)
        rows = [(0, "", 0.0, 0.0, 0.0, 0.0)]
    out.extend(
        (did, page, gid, ch, x0, y0, x1, y1, err)
        for gid, (page, ch, x0, y0, x1, y1) in enumerate(rows)
    )


def _emit_pages(out, did, pdf):
    rows, err = pdf_glyphs(pdf)
    pages = _page_texts(rows) if err is None else [(0, "")]
    out.extend((did, page, text, err) for page, text in pages)


def _emit_doc(out, did, pdf):
    rows, err = pdf_glyphs(pdf)
    texts = [text for _, text in _page_texts(rows)]
    out.append((did, "\n".join(texts), len(texts), err))


def pdf_to_glyphs(docs: DataFrame) -> DataFrame:
    """(doc_id, pdf binary) -> glyph rows in content-stream order (P8 ids).

    Unparseable documents yield ONE sentinel row carrying the taxonomy code
    (``error`` column; P1-P7 codes), never an exception.  Zero-shuffle:
    each scan task parses its own documents."""
    return map_payloads(docs, "doc_id", "pdf", _emit_glyphs, PDF_GLYPHS_SCHEMA)


def pdf_to_page_text(docs: DataFrame) -> DataFrame:
    """The fused engine-A front door: PDF bytes -> glyphs -> XY-cut
    reading-order text (L1-L4) in ONE Python pass — the intermediate glyph
    table never crosses the JVM<->Python channel (the same argument as the
    layout branch's pyscan path: the channel, not the kernel, is the cost).
    Output rows: (doc_id, page, text, error); error docs yield one
    sentinel row with page 0 and empty text."""
    return map_payloads(docs, "doc_id", "pdf", _emit_pages, PDF_PAGE_TEXT_SCHEMA)


def pdf_doc_records(docs: DataFrame) -> DataFrame:
    """(doc_id, pdf) -> ONE row per document: assembled reading-order text
    (pages joined with \\n — the layout-branch assembly convention,
    ``pages_to_doc_text``), page count, and the E6 error channel.  The
    whole chain — parse, per-page XY-cut, document assembly — runs in a
    single zero-Exchange Python pass (pages of one doc are already
    together, so the assembly groupBy the glyph branch needs does not
    exist here).  This is the transform the resumable pipeline runs for a
    PDF corpus (jobs/extract_job.py --format pdf)."""
    return map_payloads(docs, "doc_id", "pdf", _emit_doc, PDF_DOC_SCHEMA)
