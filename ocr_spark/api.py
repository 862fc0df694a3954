"""Reference-parity facade: every flow of MehdiAPBS/OCR as one Spark call.

A user of the reference app drives four server flows and one API route;
each maps to one function here (same capability, batch-parallel,
deterministic):

| reference flow (file) | here |
|---|---|
| ``extractDataFromPdf`` (src/ai/flows/extract-data-from-pdf.ts) | :func:`extract_records` |
| ``saveToGoogleSheet`` (src/ai/flows/save-to-google-sheet.ts) | :func:`upsert_wide_rows` |
| ``POST /api/save-to-mongodb`` (src/app/api/save-to-mongodb/route.ts) | :func:`append_records` |
| ``summarizePdfData`` (src/ai/flows/summarize-pdf-data.ts) | :func:`summarize` |
| JSON download (src/app/page.tsx:250-285) | :func:`export_json` |
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ocr_spark.operators.attendance import attendance_records, with_json_output
from ocr_spark.operators.extract import extract_pages
from ocr_spark.operators.layout_ops import ocr_structured_records
from ocr_spark.operators.unnest import explode_presences
from ocr_spark.sources.icelite import IceliteTable


def extract_records(
    pages: DataFrame = None,
    *,
    doc_texts: DataFrame = None,
    glyphs: DataFrame = None,
    glyph_doc_map: DataFrame = None,
) -> DataFrame:
    """The reference's ``extractDataFromPdf`` flow (both engines).

    - ``pages`` (html bytes)            -> engine-B analogue: DOM extraction
      (html-less rows fall back to the crawl text, E4).
    - ``doc_texts(url, doc_text)``      -> structuring only (the
      ``structureOcrTextPrompt`` half, extract-data-from-pdf.ts:59-75).
    - ``glyphs`` + ``glyph_doc_map``    -> engine-A analogue: layout OCR
      then structuring (extract-data-from-pdf.ts:114-148).

    Exactly one input group must be provided.  Per-row errors surface in an
    ``error`` column; the batch never aborts (E6).
    """
    provided = [pages is not None, doc_texts is not None, glyphs is not None]
    if sum(provided) != 1:
        raise ValueError("provide exactly one of pages / doc_texts / glyphs")
    if pages is not None:
        return extract_pages(pages)
    if doc_texts is not None:
        return attendance_records(doc_texts)
    if glyph_doc_map is None:
        raise ValueError("glyphs input requires glyph_doc_map(doc_id, url)")
    return ocr_structured_records(glyphs, glyph_doc_map)


def upsert_wide_rows(records: DataFrame, table: IceliteTable) -> int:
    """The reference's ``saveToGoogleSheet`` flow: explode the record into
    one wide row per student (empty list -> one empty-student row) and
    idempotently upsert by key — re-saving a key replaces its prior rows
    (save-to-google-sheet.ts:146-240), here as ONE atomic commit instead of
    5 non-atomic API calls.  Returns the commit snapshot id."""
    rows = explode_presences(records)
    return table.merge(rows)


def append_records(records: DataFrame, table: IceliteTable) -> int:
    """The reference's MongoDB insert (route.ts:95-134): schema-validated
    append; the returned snapshot id plays the inserted-id role."""
    return table.append(with_json_output(records))


def summarize(records: DataFrame) -> DataFrame:
    """The reference's ``summarizePdfData`` flow, deterministic: per-record
    metric summary instead of LLM prose (summarize-pdf-data.ts:28-45).
    Fields are coalesced individually: ``F.concat`` propagates nulls, so a
    record carrying an extraction error (partial fields struct) would get
    summary=NULL instead of a summary of whatever WAS extracted — the
    reference still renders per-document output in that case."""
    return records.select(
        "url",
        F.concat(
            F.lit("classe="), F.coalesce(F.col("fields.classe"), F.lit("?")),
            F.lit(" cours="), F.coalesce(F.col("fields.cours"), F.lit("?")),
            F.lit(" présents="),
            F.coalesce(F.col("fields.nombre_des_présents").cast("string"), F.lit("?")),
            F.lit(" étudiants="),
            F.coalesce(F.size("fields.présences").cast("string"), F.lit("?")),
        ).alias("summary"),
    )


def export_json(records: DataFrame, path: str) -> None:
    """The reference's per-document JSON download (page.tsx:250-285) as a
    bulk sink: one JSON line per record."""
    with_json_output(records).select("url", "json_output").write.mode(
        "overwrite"
    ).json(path)
