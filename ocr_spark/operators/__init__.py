"""Spark stages: vectorized pandas/Arrow UDF wrappers around the pure
kernels in ``ocr_spark.functions``, plus relational reshaping operators.

No per-row Python UDFs anywhere (BASELINE.json:15) — every Python-side
operator is an arrow/pandas UDF or an Arrow batch map, and everything
relational stays in JVM-side ``pyspark.sql.functions``.  The per-document
byte kernels (PDF, PNG, WAV, MP4, WARC) share one ``mapInArrow`` loop,
``payloads.map_payloads``.
"""
