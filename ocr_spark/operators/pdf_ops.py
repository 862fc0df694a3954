"""PDF bytes -> glyphs / reading-order text as Spark stages.

Closes the reference's titular front door: it ingests PDF *files*
(reference: src/app/page.tsx:444-452, accept filter :118) and engine A
OCRs the raw bytes (reference: src/ai/flows/extract-data-from-pdf.ts:
114-139).  Here the byte layer is the stdlib parser
(ocr_spark/functions/pdf.py, frozen contract P1-P8) and the layout layer
is the code-point XY-cut kernel (functions/layout.py L1-L4) — so the full
engine-A chain runs from raw document bytes with no fixture-born glyph
table in the path.

Structure: each operator is one small emitter run by the shared payload
batch loop (``operators.payloads.map_payloads``, one ``mapInArrow``):
the emitter parses its document once with ``pdf_glyph_columns`` — numpy
columns (page, code point, box), no Python object per glyph; content
streams are tokenized in bulk and the pen positions of all shows are
summed at once — and appends glyph rows, page rows, or one doc row.  The
page and doc emitters hand the columns to ``layout.page_texts_codes``,
which XY-cuts each page (sorted once per page, on an explicit stack) and
runs line clustering and spacing once over all of the document's leaves.
Their cut work is capped per document (``pdf.MAX_LAYOUT_WORK`` ->
``doc_too_large``), so no document's layout is quadratic without bound;
the glyph emitter runs no layout.  Each output schema is declared once,
as a Spark ``StructType``.

Scale shape: a single-pass, zero-Exchange plan over the document relation
(the html extraction branch's shape), no per-row Python UDFs, errors
recorded per document (E6).  Per-task memory is bounded by the Arrow
batch (session-tuned) times the largest document (KB-to-MB payloads).
"""

from __future__ import annotations

from itertools import repeat

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ocr_spark.functions.layout import LayoutTooLarge, page_texts_codes
from ocr_spark.functions.pdf import MAX_LAYOUT_WORK, pdf_glyph_columns
from ocr_spark.operators.payloads import map_payloads
from ocr_spark.schemas import GLYPHS_SCHEMA, PAGE_TEXT_SCHEMA

# the layout branch's row schemas, each plus the per-document error slot
_ERROR = T.StructField("error", T.StringType(), True)
PDF_GLYPHS_SCHEMA = T.StructType(GLYPHS_SCHEMA.fields + [_ERROR])
PDF_PAGE_TEXT_SCHEMA = T.StructType(PAGE_TEXT_SCHEMA.fields + [_ERROR])

PDF_DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("n_pages", T.IntegerType(), False),
        _ERROR,
    ]
)


def _emit_glyphs(out, did, pdf):
    g, err = pdf_glyph_columns(pdf)
    if err is not None:
        # E6 sentinel row: the error travels in the row, page/glyph slots
        # zeroed (mirrors sample_frames' frame_idx -1 row)
        out.append((did, 0, 0, "", 0.0, 0.0, 0.0, 0.0, err))
        return
    n = g.page.size
    chars = g.cp.astype("<u4").tobytes().decode("utf-32-le")
    out.extend(
        zip(
            repeat(did, n), g.page.tolist(), range(n), chars,
            g.x0.tolist(), g.y0.tolist(), g.x1.tolist(), g.y1.tolist(), repeat(None, n),
        )
    )


def _page_texts(pdf) -> tuple[list, str | None]:
    """(page texts, error) of one document: ``[]`` and the taxonomy code
    on error, including ``doc_too_large`` past ``MAX_LAYOUT_WORK``."""
    g, err = pdf_glyph_columns(pdf)
    if err is not None:
        return [], err
    try:
        return page_texts_codes(*g, max_cut_work=MAX_LAYOUT_WORK), None
    except LayoutTooLarge:
        return [], "doc_too_large"


def _emit_pages(out, did, pdf):
    pages, err = _page_texts(pdf)
    if err is not None:
        pages = [(0, "")]  # the E6 sentinel row
    out.extend((did, page, text, err) for page, text in pages)


def _emit_doc(out, did, pdf):
    pages, err = _page_texts(pdf)
    out.append((did, "\n".join(text for _, text in pages), len(pages), err))


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
