"""Streaming extraction: the same extraction stage over readStream.

The reference's "queue" is a finite, manually-advanced batch
(reference: src/app/page.tsx:101-113), so batch is our primary mode; this
module shows the identical operator graph running incrementally — new
parquet files landing in a directory are extracted exactly once, with
checkpointed progress (the streaming analogue of the snapshot resume).
``foreachBatch`` + IceliteTable.merge gives exactly-once visible effect per
url even across restarts (sink-side idempotency, reference K3).
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from ocr_spark.operators.extract import extract_pages
from ocr_spark.operators.payloads import batch_step
from ocr_spark.schemas import PAGES_SCHEMA
from ocr_spark.sources.icelite import IceliteTable


def run_stream_once(
    spark: SparkSession,
    input_dir: str,
    out_table: IceliteTable,
    checkpoint_dir: str,
    schema=PAGES_SCHEMA,
    transform=extract_pages,
) -> int:
    """Drain all currently-available files (availableNow) through the
    extraction stage into the merge sink; returns processed row count.

    Each micro-batch is one merge, so one write job (plus the anti-join's
    when it lands in written buckets); the row count is what the merge's
    write tasks counted, so the batch runs once and is never cached.  An
    empty micro-batch (only an empty input file makes one) commits a
    snapshot that changes no file, as an empty pipeline group does.

    ``schema``/``transform`` generalize the ingest beyond the html branch
    (same pattern as ExtractionPipeline): e.g. schema ``doc_id long, pdf
    binary`` with ``pdf_ops.pdf_doc_records`` streams a landing directory
    of PDF batches into a doc-text table, exactly-once per doc_id."""
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 4)
        .parquet(input_dir)
    )
    extracted = transform(stream)
    total = {"n": 0}

    def sink(batch_df, epoch_id: int) -> None:
        out_table.merge(batch_df, metadata={"stream_epoch": epoch_id})
        total["n"] += sum(f.rows for f in batch_step(batch_df).written)

    q = (
        extracted.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return total["n"]
