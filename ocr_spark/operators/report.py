"""QA/report aggregation over the extracted table (reference A1).

The reference summarizes one record with an LLM
(reference: src/ai/flows/summarize-pdf-data.ts:28-45); deterministic
replacement per SURVEY.md §2 A1: ``summarize``, one metric string per
record, and grouped metrics over the extraction output — the one
intentionally-wide (shuffling) operator in the engine.
Also carries A2's rule: ``nombre_des_présents`` is the *declared* count and
is never recomputed; ``size(présences)`` is a separate QA column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def extraction_report(extracted: DataFrame) -> DataFrame:
    """Per-language QA rollup of an EXTRACTED_SCHEMA table."""
    return (
        extracted.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0)).alias("n_errors"),
            F.sum(F.length("text")).alias("total_chars"),
            F.sum(F.col("n_blocks").cast("bigint")).alias("total_blocks"),
            F.max(F.length("text")).cast("bigint").alias("max_chars"),
        )
        .withColumn(
            "error_rate",
            F.round(F.col("n_errors") / F.greatest(F.col("n_docs"), F.lit(1)), 6),
        )
    )


def extraction_error_histogram(extracted: DataFrame) -> DataFrame:
    """Per-(lang, error-code) doc counts over an EXTRACTED_SCHEMA table —
    the operational view that distinguishes the PLANTED error taxonomy
    from drift (r4 VERDICT item 8: n_errors alone cannot tell a thousand
    expected NO_CONTENT docs from a thousand new PARSE_ERRORs).  Codes are
    normalized to their taxonomy prefix (``DOC_TOO_LARGE:123`` ->
    ``DOC_TOO_LARGE``); clean docs count under ``ok``.  One map-side
    partial-agg shuffle on a tiny (lang x code) key space."""
    code = F.when(F.col("error").isNull(), F.lit("ok")).otherwise(
        F.substring_index("error", ":", 1)
    )
    return (
        extracted.groupBy("lang", code.alias("error_code"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    )


def extraction_summary(extracted: DataFrame) -> DataFrame:
    """A1's free-text artifact, deterministically: one human-readable
    summary SENTENCE per language built from the report metrics by pure
    string assembly (the reference renders this with an LLM,
    src/ai/flows/summarize-pdf-data.ts:28-45 — byte-exactness makes that a
    non-goal, so the sentence is a total function of the metrics).  All
    interpolated values are integers (percent via integer basis-point
    math) so the string is exactly reproducible in any SQL engine."""
    r = extraction_report(extracted)
    # FLOOR, not cast: Spark's double->bigint cast truncates but DuckDB's
    # ROUNDS — floor agrees in both engines (all values non-negative)
    pct_bp = F.floor(
        F.col("n_errors") * 10000 / F.greatest(F.col("n_docs"), F.lit(1))
    ).cast("bigint")
    mean_chars = F.floor(
        F.col("total_chars") / F.greatest(F.col("n_docs") - F.col("n_errors"), F.lit(1))
    ).cast("bigint")
    return r.select(
        "lang",
        F.col("n_docs"),
        F.concat(
            F.lit("lang="),
            # F.concat null-propagates: lang is nullable in the pages
            # schema, and an un-coalesced NULL group nulled its ENTIRE
            # summary sentence (the docstring promises a total function)
            F.coalesce(F.col("lang"), F.lit("?")),
            F.lit(": extracted "),
            F.col("n_docs").cast("string"),
            F.lit(" docs ("),
            F.col("n_errors").cast("string"),
            F.lit(" errors, "),
            F.floor(pct_bp / 100).cast("bigint").cast("string"),
            F.lit("."),
            F.lpad((pct_bp % 100).cast("string"), 2, "0"),
            F.lit("%), "),
            F.col("total_blocks").cast("string"),
            F.lit(" text blocks, mean "),
            mean_chars.cast("string"),
            F.lit(" chars per clean doc, max "),
            F.col("max_chars").cast("string"),
        ).alias("summary"),
    )


def summarize(records: DataFrame) -> DataFrame:
    """A1 per record: the reference's ``summarizePdfData`` flow,
    deterministic — one metric summary string per record instead of LLM
    prose (summarize-pdf-data.ts:28-45).
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


def attendance_qa(records: DataFrame) -> DataFrame:
    """A2: declared count vs actual list size, flagged — never overwritten."""
    return records.select(
        "url",
        F.col("fields.nombre_des_présents").alias("declared"),
        F.size("fields.présences").cast("bigint").alias("actual"),
        (F.col("fields.nombre_des_présents") != F.size("fields.présences")).alias(
            "count_mismatch"
        ),
    )
