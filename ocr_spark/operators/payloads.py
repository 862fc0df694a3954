"""The one batch loop for per-document byte kernels.

Every byte-level operator (PDF, PNG, WAV, MP4, WARC/WET) is the same step
repeated per document: one ``(id, payload)`` pair in, zero or more rows
out, errors recorded in the row (E6).  ``map_payloads`` runs that step in
a single ``mapInArrow`` pass — no pandas hop, no Exchange — and each
operator supplies only its per-document emitter and its output schema.

This module stays a leaf (pyspark and pyarrow only): every Python worker
imports it to unpickle the batch function, so it must not import
``ocr_spark.plans``, whose package pulls in the pipeline, icelite and
pyarrow.parquet.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema


def map_payloads(
    df: DataFrame, id_col: str, payload_col: str, emit, schema: T.StructType
) -> DataFrame:
    """``emit(out, id, payload)`` appends ``schema``-ordered row tuples to
    ``out`` for one document; the batch becomes one Arrow array per output
    column.  Emitters never raise (E6), so one bad document never aborts
    its batch."""
    arrow_schema = to_arrow_schema(schema)

    def batches(it):
        import pyarrow as pa

        for batch in it:
            out: list[tuple] = []
            ids = batch.column(id_col).to_pylist()
            for key, payload in zip(ids, batch.column(payload_col).to_pylist()):
                emit(out, key, payload)
            cols = list(zip(*out)) or [()] * len(arrow_schema)
            yield pa.RecordBatch.from_arrays(
                [pa.array(c, f.type) for c, f in zip(cols, arrow_schema)],
                schema=arrow_schema,
            )

    return df.select(id_col, payload_col).mapInArrow(batches, schema)
