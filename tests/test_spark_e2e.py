"""Spark-level end-to-end: extraction, attendance, unnest, layout branch.

Golden-fixture identity at the DataFrame level plus plan-shape assertions
(vectorization constraint: Arrow batch maps only, no row-at-a-time
BatchEvalPython — BASELINE.json:15).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ocr_spark.operators.attendance import (
    attendance_records,
    parse_json_output,
    with_json_output,
)
from ocr_spark.operators.extract import extract_pages
from ocr_spark.operators.layout_ops import glyphs_to_page_text, pages_to_doc_text
from ocr_spark.operators.unnest import explode_presences


@pytest.fixture(scope="module")
def extracted(spark, tiny_dir):
    pages = spark.read.parquet(f"{tiny_dir}/pages.parquet")
    return extract_pages(pages).cache()


def test_extract_text_byte_identical(spark, tiny_dir, extracted):
    golden = spark.read.parquet(f"{tiny_dir}/golden_pages.parquet").select(
        "url",
        F.col("text").alias("gtext"),
        F.to_json("spans").alias("gspans"),
        F.col("n_blocks").alias("gn"),
        "expect_error",
    )
    j = extracted.withColumn("jspans", F.to_json("spans")).join(golden, "url")
    assert j.count() == extracted.count()
    assert j.filter(F.col("text") != F.col("gtext")).count() == 0
    assert j.filter(F.col("jspans") != F.col("gspans")).count() == 0
    assert j.filter(F.col("n_blocks") != F.col("gn")).count() == 0
    assert j.filter(F.col("expect_error") != F.col("error").isNotNull()).count() == 0


def test_extract_error_rows_carry_defaults(extracted):
    """E6: error rows still have the full default payload."""
    errs = extracted.filter(F.col("error").isNotNull())
    assert errs.filter(
        F.col("text").isNull() | F.col("spans").isNull() | F.col("n_blocks").isNull()
    ).count() == 0
    assert errs.filter((F.col("text") != "") | (F.size("spans") != 0)).count() == 0


def test_extract_plan_is_vectorized_and_narrow(spark, tiny_dir):
    pages = spark.read.parquet(f"{tiny_dir}/pages.parquet")
    plan = extract_pages(pages)._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan  # vectorized Arrow batch channel
    assert "BatchEvalPython" not in plan  # no per-row Python
    assert "Exchange" not in plan  # zero shuffles in the extraction stage
    # all-wet input: the step emits FOUR result columns (text, spans,
    # n_blocks, error) — pin that they come from ONE MapInArrow
    wet = extract_pages(pages.withColumn("html", F.lit(None).cast("binary")))
    wplan = wet._jdf.queryExecution().executedPlan().toString()
    assert wplan.count("MapInArrow") == 1
    assert "Exchange" not in wplan


@pytest.mark.parametrize(
    "downstream",
    [
        lambda df: df,
        lambda df: df.filter(F.col("error").isNull()),
        lambda df: df.filter(F.col("text") != ""),
    ],
    ids=["none", "filter_error", "filter_text"],
)
def test_extract_plan_one_scan_one_udf(spark, tiny_dir, downstream):
    """E4 dispatch is per row inside ONE Arrow batch step: a mixed dom/wet
    input plans one parquet scan and one MapInArrow — no filtered branches
    joined by a Union.  A downstream filter on a result field must not
    add a second evaluation of the step (the inferred-notnull trap,
    CLAUDE.md)."""
    pages = spark.read.parquet(f"{tiny_dir}/pages.parquet")
    mixed = pages.withColumn(
        "html", F.when(F.col("url").endswith("0"), None).otherwise(F.col("html"))
    )
    df = downstream(extract_pages(mixed))
    df.write.format("noop").mode("overwrite").save()  # the plan that ran
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan parquet") == 1
    assert plan.count("MapInArrow") == 1
    assert "Union" not in plan
    assert "Exchange" not in plan


def test_engine_dispatch(spark, tiny_dir):
    pages = spark.read.parquet(f"{tiny_dir}/pages.parquet")
    # null out html for half the rows -> they must route to the wet branch
    routed = pages.withColumn(
        "html", F.when(F.col("url").endswith("0"), None).otherwise(F.col("html"))
    )
    ext = extract_pages(routed)
    engines = {r["engine"]: r["n"] for r in ext.groupBy("engine").agg(F.count("*").alias("n")).collect()}
    assert set(engines) == {"dom", "wet"}
    wet = ext.filter(F.col("engine") == "wet")
    # wet output equals the generator's independent N2+N4 golden — the raw
    # crawl text is ADVERSARIAL (NBSP/U+2028 separators, NFD accents), so
    # an ASCII-regexp collapse or a skipped NFC fails here
    src = spark.read.parquet(f"{tiny_dir}/golden_pages.parquet").select(
        "url", F.coalesce("wet_text", F.lit("")).alias("want")
    )
    assert wet.join(src, "url").filter(F.col("text") != F.col("want")).count() == 0


def test_attendance_spark_exact(spark, tiny_dir):
    docs = spark.read.parquet(f"{tiny_dir}/attendance_docs.parquet")
    recs = attendance_records(docs)
    golden = spark.read.parquet(f"{tiny_dir}/golden_attendance.parquet")
    gstruct = golden.select(
        "url",
        F.to_json(
            F.struct(
                "classe", "cours", "date", "nom_du_professeur",
                "nombre_des_présents", "salle_n", "séance", "présences",
            )
        ).alias("gjson"),
    )
    j = with_json_output(recs).join(gstruct, "url")
    assert j.count() == golden.count()
    assert j.filter(F.col("json_output") != F.col("gjson")).count() == 0


def test_json_roundtrip(spark, tiny_dir):
    """E7+E8: to_json then from_json reproduces the struct exactly."""
    docs = spark.read.parquet(f"{tiny_dir}/attendance_docs.parquet")
    recs = attendance_records(docs).select("url", "fields")
    rt = parse_json_output(
        with_json_output(recs).select("url", "json_output")
    ).select("url", F.to_json("fields").alias("j2"))
    orig = recs.select("url", F.to_json("fields").alias("j1"))
    assert orig.join(rt, "url").filter(F.col("j1") != F.col("j2")).count() == 0


def test_explode_outer_rows_match_golden(spark, tiny_dir):
    docs = spark.read.parquet(f"{tiny_dir}/attendance_docs.parquet")
    rows = explode_presences(attendance_records(docs)).select("url", "n", "nom_prénom")
    golden = spark.read.parquet(f"{tiny_dir}/golden_attendance_rows.parquet")
    assert rows.count() == golden.count()
    assert rows.exceptAll(golden).count() == 0
    assert golden.exceptAll(rows).count() == 0


def test_explode_outer_rowcount_law(spark, tiny_dir):
    """Property U1: rows per doc == max(1, size(présences))."""
    docs = spark.read.parquet(f"{tiny_dir}/attendance_docs.parquet")
    recs = attendance_records(docs)
    law = recs.select(
        "url", F.greatest(F.size("fields.présences"), F.lit(1)).alias("want")
    )
    got = explode_presences(recs).groupBy("url").agg(F.count("*").alias("got"))
    assert law.join(got, "url").filter(F.col("want") != F.col("got")).count() == 0


def test_layout_branch_byte_identical(spark, tiny_dir):
    glyphs = spark.read.parquet(f"{tiny_dir}/glyphs.parquet")
    got = glyphs_to_page_text(glyphs)
    golden = spark.read.parquet(f"{tiny_dir}/golden_glyphs.parquet").select(
        "doc_id", "page", F.col("text").alias("gtext")
    )
    j = got.join(golden, ["doc_id", "page"])
    assert j.count() == golden.count()
    assert j.filter(F.col("text") != F.col("gtext")).count() == 0


def test_doc_assembly(spark, tiny_dir):
    glyphs = spark.read.parquet(f"{tiny_dir}/glyphs.parquet")
    docs = pages_to_doc_text(glyphs_to_page_text(glyphs))
    golden = spark.read.parquet(f"{tiny_dir}/golden_glyphs.parquet")
    want = (
        golden.groupBy("doc_id")
        .agg(F.array_sort(F.collect_list(F.struct("page", "text"))).alias("p"))
        .select("doc_id", F.array_join(F.transform("p", lambda x: x["text"]), "\n").alias("wtext"))
    )
    assert docs.join(want, "doc_id").filter(F.col("text") != F.col("wtext")).count() == 0


def test_engine_a_chain_glyphs_to_fields(spark, tiny_dir):
    """Engine-A parity: rendered attendance sheets -> XY-cut OCR ->
    structuring == golden fields (the reference's Vision+Gemini path,
    deterministic)."""
    from ocr_spark.operators.layout_ops import ocr_structured_records

    glyphs = spark.read.parquet(f"{tiny_dir}/attendance_glyphs.parquet")
    doc_map = spark.read.parquet(f"{tiny_dir}/attendance_glyph_docs.parquet")
    recs = ocr_structured_records(glyphs, doc_map)
    golden = spark.read.parquet(f"{tiny_dir}/golden_attendance.parquet")
    gstruct = golden.select(
        "url",
        F.to_json(
            F.struct(
                "classe", "cours", "date", "nom_du_professeur",
                "nombre_des_présents", "salle_n", "séance", "présences",
            )
        ).alias("gjson"),
    )
    j = with_json_output(recs).join(gstruct, "url")
    assert j.count() == golden.count()
    assert j.filter(F.col("json_output") != F.col("gjson")).count() == 0


def test_doc_too_large_through_spark(spark):
    """The per-doc byte cap (compute-skew bound) surfaces through the full
    Spark path with the default payload intact."""
    big = b"<p>" + b"x" * (9 * 1024 * 1024) + b"</p>"
    df = spark.createDataFrame(
        [("http://big/1", None, bytearray(big), None, "en")],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    r = extract_pages(df).first()
    assert r["error"].startswith("DOC_TOO_LARGE:")
    assert r["text"] == "" and r["spans"] == [] and r["n_blocks"] == 0


def test_layout_pyscan_equals_channel_path(spark, tiny_dir, tmp_path):
    """The python-source scan path (task-side pyarrow row-group reads —
    glyph bytes never cross the JVM->Python row channel) must emit exactly
    the shuffled channel path's pages; range planning must stay footer-free
    for small files and split big files on row-group boundaries; a file
    whose row groups interleave two pages raises instead of silently
    fragmenting them."""
    from ocr_spark.operators.layout_ops import (
        _glyph_scan_ranges,
        glyphs_to_page_text,
        glyphs_to_page_text_pyscan,
    )

    path = f"{tiny_dir}/glyphs.parquet"
    got = {
        (r["doc_id"], r["page"]): r["text"]
        for r in glyphs_to_page_text_pyscan(spark, path).collect()
    }
    want = {
        (r["doc_id"], r["page"]): r["text"]
        for r in glyphs_to_page_text(spark.read.parquet(path)).collect()
    }
    assert got == want and len(got) > 0

    # small file -> ONE whole-file range, no footer read ([0, -1])
    assert _glyph_scan_ranges(path, 1 << 30) == [(path, 0, -1)]
    # tiny target -> split on row-group boundaries, covering every group
    import pyarrow.parquet as pq

    n_rg = pq.ParquetFile(path).metadata.num_row_groups
    ranges = _glyph_scan_ranges(path, 1)
    assert ranges[0][1] == 0 and ranges[-1][2] == n_rg
    assert all(a[2] == b[1] for a, b in zip(ranges, ranges[1:]))  # contiguous
    got_split = {
        (r["doc_id"], r["page"]): r["text"]
        for r in glyphs_to_page_text_pyscan(spark, path, target_bytes=1).collect()
    }
    assert got_split == want

    # row groups A, B, A: page A reappears after its run closed
    t = pq.read_table(path)
    keys = list(zip(t["doc_id"].to_pylist(), t["page"].to_pylist()))
    a, b = sorted(set(keys))[:2]
    rows_a = [i for i, k in enumerate(keys) if k == a]
    rows_b = [i for i, k in enumerate(keys) if k == b]
    half = len(rows_a) // 2
    bad = str(tmp_path / "interleaved.parquet")
    with pq.ParquetWriter(bad, t.schema) as w:
        for rows in (rows_a[:half], rows_b, rows_a[half:]):
            w.write_table(t.take(rows))
    assert pq.ParquetFile(bad).metadata.num_row_groups == 3
    with pytest.raises(Exception, match="reappeared"):
        glyphs_to_page_text_pyscan(spark, bad).collect()


def test_pyscan_file_uri_and_no_os_listdir(spark, tiny_dir, monkeypatch):
    """The pyscan planner is pyarrow.fs-backed (r4 VERDICT #3): a file://
    URI plans and executes identically to the plain path, directory
    listing goes through pyarrow (os.listdir is never touched), and URI
    prefixes survive into the task-side opens for non-local schemes."""
    import os as _os

    from ocr_spark.operators.layout_ops import (
        _glyph_scan_ranges,
        _resolve_fs,
        glyphs_to_page_text_pyscan,
    )

    path = f"{tiny_dir}/glyphs.parquet"
    want = _glyph_scan_ranges(path, 1 << 30)
    # file:// URI: same plan (local fs opens plain paths)
    assert _glyph_scan_ranges(f"file://{path}", 1 << 30) == want
    got = {
        (r["doc_id"], r["page"]): r["text"]
        for r in glyphs_to_page_text_pyscan(spark, f"file://{path}").collect()
    }
    assert len(got) > 0

    # directory listing without os.listdir: plan a directory while
    # os.listdir/os.scandir are booby-trapped
    import shutil as _shutil
    import tempfile as _tempfile

    d = _tempfile.mkdtemp(prefix="pyscan_fs_")
    try:
        _shutil.copy(path, _os.path.join(d, "part-0.parquet"))
        _shutil.copy(path, _os.path.join(d, "part-1.parquet"))

        def _boom(*a, **k):
            raise AssertionError("planner must not use os.listdir")

        monkeypatch.setattr(_os, "listdir", _boom)
        ranges = _glyph_scan_ranges(d, 1 << 30)
        monkeypatch.undo()
        assert [r[0] for r in ranges] == sorted(
            _os.path.join(d, f"part-{i}.parquet") for i in range(2)
        )
    finally:
        _shutil.rmtree(d, ignore_errors=True)

    # non-local schemes keep their URI prefix on planned paths
    fs, p, prefix = _resolve_fs("file:///tmp/x")
    assert (p, prefix) == ("/tmp/x", "")
    fs2, p2, prefix2 = _resolve_fs("/tmp/x")
    assert (p2, prefix2) == ("/tmp/x", "")


def test_layout_doc_spans_reconstruct(spark, tiny_dir):
    """N5-style law for the layout branch: slicing the assembled document
    text at each page span must yield exactly that page's text."""
    from ocr_spark.operators.layout_ops import glyphs_to_page_text, pages_to_doc_text

    g = spark.read.parquet(f"{tiny_dir}/glyphs.parquet")
    pages = {
        (r["doc_id"], r["page"]): r["text"] for r in glyphs_to_page_text(g).collect()
    }
    docs = pages_to_doc_text(glyphs_to_page_text(g)).collect()
    assert docs
    for d in docs:
        assert len(d["spans"]) == d["n_pages"]
        for s in d["spans"]:
            page_no = int(s["field"].removeprefix("page_"))
            assert d["text"][s["begin"] : s["end"]] == pages[(d["doc_id"], page_no)]
