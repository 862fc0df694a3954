"""Arrow batch maps: the one batch loop for per-document byte kernels, and
the batch step a sink can run in its own Python pass.

Every byte-level operator (PDF, PNG, WAV, MP4, WARC/WET) is the same step
repeated per document: one ``(id, payload)`` pair in, zero or more rows
out, errors recorded in the row (E6).  ``map_payloads`` runs that step in
a single ``mapInArrow`` pass — no pandas hop, no Exchange — and each
operator supplies only its per-document emitter and its output schema.

``map_batches`` is the ``mapInArrow`` under it (and under
``extract_pages``): the DataFrame it returns carries its input and its
per-batch function as a ``BatchStep``, so a sink can run its own batch
function after the step in the same Python worker instead of sending the
rows back through the JVM (``IceliteTable._write_data``).

This module stays a leaf (pyspark, pyarrow and numpy only): every Python
worker imports it to unpickle the batch function, so it must not import
``ocr_spark.plans``, whose package pulls in the pipeline, icelite and
pyarrow.parquet.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

# the DataFrame attribute a BatchStep travels in
_STEP_ATTR = "_ocr_batch_step"


@dataclass
class BatchStep:
    """How the rows of a DataFrame are made from ``src``, one Arrow batch
    at a time.

    ``fn(batch, carry)`` maps one batch of ``src`` to a batch of the
    DataFrame's schema followed by the input columns named in ``carry``,
    repeated for every row the input row emitted.  ``keeps`` names the
    output columns copied unchanged from the input row that emitted them,
    so a value computed JVM-side from ``src`` on one of them (a bucket id)
    holds for the output rows.  ``write`` holds a sink's write plan built
    ahead, ``(sink, plan)``, until the write that runs it takes it;
    ``written`` is filled by the sink that ran the step: the rows its
    write tasks returned, one per file."""

    src: DataFrame
    fn: Callable
    keeps: tuple[str, ...]
    write: tuple | None = None
    written: list | None = None


def same_batch(batch, carry=()):
    """The identity step: the batch already holds its carry columns."""
    return batch


def batch_step(df: DataFrame) -> BatchStep:
    """The step ``df`` carries; a DataFrame built any other way first gets
    the identity step over itself, so a sink's ``written`` lands where its
    caller can read it."""
    step = vars(df).get(_STEP_ATTR)
    if step is None:
        step = BatchStep(df, same_batch, tuple(df.columns))
        setattr(df, _STEP_ATTR, step)
    return step


def map_batches(src: DataFrame, fn, schema: T.StructType, keeps: tuple[str, ...]) -> DataFrame:
    """``src.mapInArrow`` of the step ``fn`` (see ``BatchStep``), carrying
    the step.  Any further DataFrame operation returns a DataFrame without
    it, which a sink writes as it is."""

    def batches(it):
        for batch in it:
            yield fn(batch, ())

    out = src.mapInArrow(batches, schema)
    setattr(out, _STEP_ATTR, BatchStep(src, fn, keeps))
    return out


def map_payloads(
    df: DataFrame, id_col: str, payload_col: str, emit, schema: T.StructType
) -> DataFrame:
    """``emit(out, id, payload)`` appends ``schema``-ordered row tuples to
    ``out`` for one document; the batch becomes one Arrow array per output
    column.  Emitters never raise (E6), so one bad document never aborts
    its batch.  An emitter that writes the id into an output column of the
    same name keeps it."""
    arrow_schema = to_arrow_schema(schema)

    def step(batch, carry=()):
        import numpy as np
        import pyarrow as pa

        out: list[tuple] = []
        ends: list[int] = []
        ids = batch.column(id_col).to_pylist()
        for key, payload in zip(ids, batch.column(payload_col).to_pylist()):
            emit(out, key, payload)
            ends.append(len(out))
        cols = list(zip(*out)) or [()] * len(arrow_schema)
        arrays = [pa.array(c, f.type) for c, f in zip(cols, arrow_schema)]
        fields = list(arrow_schema)
        if carry:
            parent = np.repeat(np.arange(len(ends)), np.diff(ends, prepend=0))
            arrays += [batch.column(c).take(parent) for c in carry]
            fields += [batch.schema.field(c) for c in carry]
        return pa.RecordBatch.from_arrays(arrays, schema=pa.schema(fields))

    keeps = (id_col,) if id_col in schema.fieldNames() else ()
    return map_batches(df.select(id_col, payload_col), step, schema, keeps)
