"""SQL surface: use the extraction kernels from plain ``spark.sql``.

``register(spark)`` exposes the engine to SQL users:

    SELECT url, r.text, r.error
    FROM (SELECT url, ocr_extract(html, text) AS r FROM pages)
    SELECT url, ocr_structure(doc_text).fields.classe FROM attendance
    SELECT ocr_lang(text) FROM documents

The UDFs are the same vectorized kernels the DataFrame operators use —
registration is a naming affordance, not a second implementation.
``ocr_extract`` is non-deterministic (a pushdown barrier, see
``operators/extract.py``): call it once in a subquery and read its fields
outside, as above — each written-out call runs the kernel again.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from ocr_spark.operators.attendance import structure_spans_udf, structure_udf
from ocr_spark.operators.extract import extract_udf
from ocr_spark.operators.textstats_ops import detect_lang_udf, simhash_udf


def register(spark: SparkSession) -> None:
    spark.udf.register("ocr_extract", extract_udf)
    spark.udf.register("ocr_structure", structure_udf)
    spark.udf.register("ocr_structure_spans", structure_spans_udf)
    spark.udf.register("ocr_lang", detect_lang_udf)
    spark.udf.register("ocr_simhash", simhash_udf)
