"""The flagship extraction stage: pages -> extracted.

Spark shape (SURVEY.md §3.1): scan -> one ArrowEvalPython projection -> sink.
Zero shuffles in steady state; the arrow UDF replaces the reference's
browser->server->Vision/Gemini round-trips
(reference: src/ai/flows/extract-data-from-pdf.ts:78-175) with an in-process
Arrow-vectorized kernel.

Engine dispatch mirrors reference E4 (extract-data-from-pdf.ts:96,150 —
``if (extractionEngine === 'googleCloudVision') ... else ...``) per row,
inside the one UDF:

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
from pyspark.sql.functions import arrow_udf
from pyspark.sql.pandas.types import to_arrow_type

from ocr_spark.functions.html_extract import (
    DEFAULT_MAX_HTML_BYTES,
    ERR_EMPTY,
    extract_html_doc,
)
from ocr_spark.normalize import collapse_ws, nfc
from ocr_spark.schemas import EXTRACT_RESULT_TYPE

_RESULT_ARROW_TYPE = to_arrow_type(EXTRACT_RESULT_TYPE)


@arrow_udf(EXTRACT_RESULT_TYPE)
def extract_udf(html: pa.Array, text: pa.Array) -> pa.Array:
    """Vectorized E2+E3+E4: (html bytes, crawl text) -> (text, spans,
    n_blocks, error).  A row with html runs the DOM kernel; a row without
    runs the REAL N2+N4 kernel over the crawl text (a JVM regexp collapse
    is not equivalent: Java ``\\s`` is ASCII-only and Spark has no NFC).

    arrow_udf (not pandas_udf): the kernel consumes raw bytes and emits a
    typed struct — going through pandas would materialize an object Series
    of the binary payloads and a dict->pandas->arrow round trip on the way
    out (~18% measured overhead at this batch shape).
    """
    rows = []
    for doc, crawl in zip(html.to_pylist(), text.to_pylist()):
        if doc is not None:
            t, sp, nb, err = extract_html_doc(doc, DEFAULT_MAX_HTML_BYTES)
        else:
            t = nfc(collapse_ws(crawl or ""))
            sp, nb, err = [], int(bool(t)), None if t else ERR_EMPTY
        rows.append(
            {
                "text": t,
                "spans": [{"field": f, "begin": b, "end": e} for f, b, e in sp],
                "n_blocks": nb,
                "error": err,
            }
        )
    return pa.array(rows, type=_RESULT_ARROW_TYPE)


# Non-deterministic on purpose: it stops Catalyst pushing a downstream
# predicate on a result field (``error``, ``text``) below the projection,
# where the UDF would run a second time (CLAUDE.md, inferred-notnull trap).
# The price: no predicate on an input column (``url``) reaches the scan
# either, so select input rows before calling ``extract_pages``.
extract_udf = extract_udf.asNondeterministic()


def extract_pages(pages: DataFrame) -> DataFrame:
    """pages(url, warc_ts, html, text, lang) -> extracted (EXTRACTED_SCHEMA).

    Rows with html take the DOM kernel, html-less rows the crawl text (E4);
    html rows send no crawl text over Arrow.
    """
    no_html = F.col("html").isNull()
    r = pages.withColumn("_r", extract_udf("html", F.when(no_html, F.col("text"))))
    return r.select(
        "url",
        "warc_ts",
        "lang",
        F.coalesce(F.col("_r.text"), F.lit("")).alias("text"),
        F.coalesce(F.col("_r.spans"), F.array()).alias("spans"),
        F.coalesce(F.col("_r.n_blocks"), F.lit(0)).alias("n_blocks"),
        F.col("_r.error").alias("error"),
        F.when(no_html, F.lit("wet")).otherwise(F.lit("dom")).alias("engine"),
    )
