"""The flagship extraction stage: pages -> extracted.

Spark shape (SURVEY.md §3.1): scan -> one ``MapInArrow`` -> sink.  Zero
shuffles in steady state; the Arrow batch step replaces the reference's
browser->server->Vision/Gemini round-trips
(reference: src/ai/flows/extract-data-from-pdf.ts:78-175) with an
in-process Arrow-vectorized kernel.  The icelite writer runs the same step
in its own ``mapInArrow``, so a pipeline group extracts and writes its
bucket files in one Python pass per task (``payloads.map_batches``).

Engine dispatch mirrors reference E4 (extract-data-from-pdf.ts:96,150 —
``if (extractionEngine === 'googleCloudVision') ... else ...``) per row,
inside the one step:

- engine ``dom``  — the DOM-heuristic kernel over raw ``html`` bytes
  (stand-in for engine B, direct multimodal extraction).
- engine ``wet``  — the crawl's pre-extracted ``text`` when ``html`` is
  null (stand-in for engine A's external-OCR-text path: text arrives
  already flat, we only normalize it).
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import arrow_udf
from pyspark.sql.pandas.types import to_arrow_schema, to_arrow_type

from ocr_spark.functions.html_extract import (
    DEFAULT_MAX_HTML_BYTES,
    ERR_EMPTY,
    extract_html_doc,
)
from ocr_spark.normalize import collapse_ws, nfc
from ocr_spark.operators.payloads import map_batches
from ocr_spark.schemas import EXTRACT_RESULT_TYPE, EXTRACTED_SCHEMA

_RESULT_ARROW_TYPE = to_arrow_type(EXTRACT_RESULT_TYPE)
_SPANS_ARROW_TYPE = _RESULT_ARROW_TYPE.field("spans").type
# the columns extract_pages copies from each page row into its output
_PASSED = ("url", "warc_ts", "lang")
_ADDED = [f for f in EXTRACTED_SCHEMA.fields if f.name not in _PASSED]
_ADDED_ARROW = list(to_arrow_schema(T.StructType(_ADDED)))


def _extract_columns(html: pa.Array, text: pa.Array) -> list[pa.Array]:
    """The E2+E3+E4 row loop: (html bytes, crawl text) -> [text, spans,
    n_blocks, error] arrays.  A row with html runs the DOM kernel; a row
    without runs the REAL N2+N4 kernel over the crawl text (a JVM regexp
    collapse is not equivalent: Java ``\\s`` is ASCII-only and Spark has no
    NFC).  E6 defaults: text ``""``, spans ``[]``, n_blocks ``0``."""
    texts, spans, n_blocks, errors = [], [], [], []
    for doc, crawl in zip(html.to_pylist(), text.to_pylist()):
        if doc is not None:
            t, sp, nb, err = extract_html_doc(doc, DEFAULT_MAX_HTML_BYTES)
        else:
            t = nfc(collapse_ws(crawl or ""))
            sp, nb, err = [], int(bool(t)), None if t else ERR_EMPTY
        texts.append(t)
        spans.append(sp)
        n_blocks.append(nb)
        errors.append(err)
    return [
        pa.array(texts, pa.string()),
        pa.array(spans, _SPANS_ARROW_TYPE),  # (field, begin, end) tuples
        pa.array(n_blocks, pa.int32()),
        pa.array(errors, pa.string()),
    ]


@arrow_udf(EXTRACT_RESULT_TYPE)
def extract_udf(html: pa.Array, text: pa.Array) -> pa.Array:
    """SQL ``ocr_extract(html, text)``: the extraction row loop as one
    struct (text, spans, n_blocks, error) per row.

    arrow_udf (not pandas_udf): the kernel consumes raw bytes and emits a
    typed struct — going through pandas would materialize an object Series
    of the binary payloads and a dict->pandas->arrow round trip on the way
    out (~18% measured overhead at this batch shape).
    """
    return pa.StructArray.from_arrays(
        _extract_columns(html, text), fields=list(_RESULT_ARROW_TYPE)
    )


# Non-deterministic on purpose: it stops Catalyst pushing a predicate on a
# result field (``r.error``, ``r.text``) below the projection, where the
# UDF would run a second time (CLAUDE.md, inferred-notnull trap).
extract_udf = extract_udf.asNondeterministic()


def _extract_step(batch: pa.RecordBatch, carry=()) -> pa.RecordBatch:
    """The extraction batch step (``payloads.BatchStep``): page rows ->
    EXTRACTED_SCHEMA rows, one per page, the carry columns appended."""
    html = batch.column("html")
    engine = pa.array(["dom", "wet"], pa.string()).take(html.is_null().cast(pa.int8()))
    arrays = [batch.column(c) for c in _PASSED]
    arrays += [*_extract_columns(html, batch.column("text")), engine]
    arrays += [batch.column(c) for c in carry]
    fields = [batch.schema.field(c) for c in _PASSED] + _ADDED_ARROW
    fields += [batch.schema.field(c) for c in carry]
    return pa.RecordBatch.from_arrays(arrays, schema=pa.schema(fields))


def extract_pages(pages: DataFrame) -> DataFrame:
    """pages(url, warc_ts, html, text, lang) -> extracted (EXTRACTED_SCHEMA).

    One ``mapInArrow`` of ``_extract_step``.  Rows with html take the DOM
    kernel, html-less rows the crawl text (E4); html rows send no crawl
    text over Arrow.  The step keeps url, so an icelite table keyed on it
    runs the step inside its own write pass.  A filter on an output column
    stays above the step, and so does one on an input column: select
    input rows before calling ``extract_pages``.
    """
    src = pages.select(
        *_PASSED, "html", F.when(F.col("html").isNull(), F.col("text")).alias("text")
    )
    schema = T.StructType([src.schema[c] for c in _PASSED] + _ADDED)
    return map_batches(src, _extract_step, schema, _PASSED)
