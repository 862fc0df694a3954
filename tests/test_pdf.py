"""PDF byte layer: stdlib parser (functions/pdf.py P1-P8) vs the fixture
generator's composed files — two independent code paths, byte-identical
goldens (the PNG/WAV/MP4 playbook applied to the reference's titular
format, reference src/app/page.tsx:444-452)."""

from __future__ import annotations

import random
import re
import zlib

import numpy as np
import pytest
from hypothesis import strategies as st
from pyspark.sql import functions as F

from ocr_spark.fixtures import generator as gen
from ocr_spark.functions import pdf as pdfmod
from ocr_spark.functions.layout import page_text
from ocr_spark.functions.pdf import pdf_glyphs


# ---------------------------------------------------------------------------
# the two width-table copies must agree (neither side may drift alone)
# ---------------------------------------------------------------------------
def test_width_tables_agree():
    assert gen._PDF_HELV_WIDTHS == pdfmod.HELVETICA_WIDTHS
    for ch in "axM ":
        assert gen._pdf_w("Courier", ch) == pdfmod.COURIER_WIDTHS.get(ch) == 600


# ---------------------------------------------------------------------------
# round trip: generator-composed files parse back bit-identically
# ---------------------------------------------------------------------------
def test_roundtrip_glyphs_and_text_bit_identical():
    rng = random.Random("pdf-roundtrip")
    n_ok = n_err = 0
    for d in range(120):
        pdf, grows, trows, err = gen.gen_pdf_doc(rng, d)
        rows, kerr = pdf_glyphs(pdf)
        if err is not None:
            assert kerr == err
            assert rows == []
            n_err += 1
            continue
        assert kerr is None
        n_ok += 1
        krows = [
            (p, i, ch, x0, y0, x1, y1)
            for i, (p, ch, x0, y0, x1, y1) in enumerate(rows)
        ]
        assert krows == grows  # bit-identical floats, P7 pinned arithmetic
        pages: dict[int, list] = {}
        for p, ch, x0, y0, x1, y1 in rows:
            pages.setdefault(p, []).append((ch, x0, y0, x1, y1))
        for p, text in trows:
            g = pages[p]
            kt = page_text(
                np.array([r[0] for r in g], dtype=object),
                np.array([r[1] for r in g]),
                np.array([r[2] for r in g]),
                np.array([r[3] for r in g]),
                np.array([r[4] for r in g]),
            )
            assert kt == text
    assert n_ok > 60 and n_err > 5  # both populations exercised


# ---------------------------------------------------------------------------
# error taxonomy (P1-P7): each failure class recorded, never raised
# ---------------------------------------------------------------------------
def _minimal_pdf(content: bytes = b"BT /F1 10 Tf 72 700 Td (hi) Tj ET") -> bytes:
    rng = random.Random(0)
    return gen._pdf_build_file(
        rng, [content], inherited_attrs=True, nested_tree=False
    )


def test_error_not_pdf():
    assert pdf_glyphs(b"") == ([], "not_pdf")
    assert pdf_glyphs(None) == ([], "not_pdf")
    assert pdf_glyphs(b"\x00\x01garbage") == ([], "not_pdf")


def test_error_truncation_sweep_never_raises():
    pdf = _minimal_pdf()
    rows, err = pdf_glyphs(pdf)
    assert err is None and rows
    for cut in range(1, len(pdf), 7):
        trows, terr = pdf_glyphs(pdf[:cut])
        assert (terr is None) or terr in pdfmod.ERROR_CODES
        if cut < len(pdf) - 20:  # xref/trailer gone or mangled
            assert terr is not None


def test_error_bad_xref_offset():
    pdf = _minimal_pdf()
    i = pdf.rindex(b"startxref")
    j = pdf.index(b"\n", i) + 1
    k = pdf.index(b"\n", j)
    bad = pdf[:j] + b"1" + pdf[j:k] + pdf[k:]
    assert pdf_glyphs(bad)[1] == "bad_xref"


def test_error_unsupported_filter_and_bad_stream():
    rng = random.Random(1)
    lzw = gen._pdf_build_file(
        rng, [b"BT ET"], inherited_attrs=True, nested_tree=False,
        filter_override="LZWDecode",
    )
    assert pdf_glyphs(lzw)[1] == "unsupported_filter"
    bad = gen._pdf_build_file(
        rng, [b"BT ET"], inherited_attrs=True, nested_tree=False,
        corrupt_flate=True,
    )
    assert pdf_glyphs(bad)[1] == "bad_stream"


def test_error_content_taxonomy():
    cases = {
        b"BT (x) Tj ET": "missing_font",  # show with no font set
        b"BT /F9 10 Tf (x) Tj ET": "missing_font",  # not in /Resources
        b"BT /F2 10 Tf 72 700 Td (\\351) Tj ET": "missing_width",  # Helv é
        b"BT /F1 10 Tf 100 Tz (x) Tj ET": "bad_content",  # unsupported op
        b"BT /F1 10 Tf 2 0 0 2 72 700 Tm (x) Tj ET": "bad_content",  # scale
        b"BT /F1 10 Tf [(a) /oops] TJ ET": "bad_content",
    }
    for content, code in cases.items():
        assert pdf_glyphs(_minimal_pdf(content))[1] == code, content


def test_error_page_tree():
    pdf = _minimal_pdf()
    broken = pdf.replace(b"/Type /Pages", b"/Type /Wrong", 1)
    assert pdf_glyphs(broken)[1] == "bad_page_tree"


# ---------------------------------------------------------------------------
# parser features: hex strings, escapes, TJ kerns, inheritance, T*/'
# ---------------------------------------------------------------------------
def test_hex_and_octal_strings_equivalent():
    lit = _minimal_pdf(b"BT /F1 10 Tf 72 700 Td (ab\\143) Tj ET")
    hexs = _minimal_pdf(b"BT /F1 10 Tf 72 700 Td <61 62 63> Tj ET")
    r1, e1 = pdf_glyphs(lit)
    r2, e2 = pdf_glyphs(hexs)
    assert e1 is None and e2 is None
    assert r1 == r2
    assert "".join(r[1] for r in r1) == "abc"


def test_tj_kern_moves_pen():
    base = _minimal_pdf(b"BT /F1 10 Tf 72 700 Td [(ab)] TJ ET")
    kern = _minimal_pdf(b"BT /F1 10 Tf 72 700 Td [(a) -100 (b)] TJ ET")
    rb, _ = pdf_glyphs(base)
    rk, _ = pdf_glyphs(kern)
    # -100 units at size 10 -> +1.0 pt
    assert rk[1][2] == rb[1][2] + 100.0 * 10.0 / 1000.0


def test_quote_and_tstar_line_advance():
    content = b"BT /F1 10 Tf 14 TL 72 700 Td (one) Tj T* (two) Tj (tri) ' ET"
    rows, err = pdf_glyphs(_minimal_pdf(content))
    assert err is None
    ys = sorted({r[5] for r in rows})  # y1 = y_top per line (top-down)
    assert len(ys) == 3
    assert ys[1] - ys[0] == pytest.approx(14.0)
    assert ys[2] - ys[1] == pytest.approx(14.0)


def test_helvetica_proportional_advance():
    rows, err = pdf_glyphs(_minimal_pdf(b"BT /F2 10 Tf 72 700 Td (il) Tj ET"))
    assert err is None
    i_row, l_row = rows
    assert i_row[1] == "i" and l_row[1] == "l"
    # same form as the kernel's accumulation (x = x + adv), not a
    # subtraction (which reorders the float op and fails on the last ulp)
    assert l_row[2] == i_row[2] + 222 * 10.0 / 1000.0


# ---------------------------------------------------------------------------
# Spark operators over the fixture tier (tiny): oracle-shaped assertions
# ---------------------------------------------------------------------------
@pytest.fixture(scope="module")
def pdf_tables(spark, tiny_dir):
    docs = spark.read.parquet(f"{tiny_dir}/pdf_docs.parquet")
    return docs, tiny_dir


def test_spark_pdf_glyphs_match_golden(spark, pdf_tables):
    from ocr_spark.operators.pdf_ops import pdf_to_glyphs

    docs, tiny_dir = pdf_tables
    got = (
        pdf_to_glyphs(docs)
        .filter(F.col("error").isNull())
        .drop("error")
        .toPandas()
        .sort_values(["doc_id", "glyph_id"])
        .reset_index(drop=True)
    )
    want = (
        spark.read.parquet(f"{tiny_dir}/golden_pdf_glyphs.parquet")
        .toPandas()
        .sort_values(["doc_id", "glyph_id"])
        .reset_index(drop=True)
    )
    got["page"] = got["page"].astype("int32")
    assert got.equals(want[got.columns.tolist()])


def test_spark_pdf_errors_match_golden(spark, pdf_tables):
    from ocr_spark.operators.pdf_ops import pdf_to_glyphs

    docs, tiny_dir = pdf_tables
    got = dict(
        pdf_to_glyphs(docs)
        .groupBy("doc_id")
        .agg(F.max("error").alias("error"))
        .collect()
    )
    want = dict(
        spark.read.parquet(f"{tiny_dir}/golden_pdf_errors.parquet").collect()
    )
    assert got == want


def test_spark_pdf_page_text_matches_golden_and_composed(spark, pdf_tables):
    """Fused pdf_to_page_text == golden text == composed
    (pdf_to_glyphs -> glyphs_to_page_text) — the end-to-end engine-A
    front door from raw bytes."""
    from ocr_spark.operators.layout_ops import glyphs_to_page_text
    from ocr_spark.operators.pdf_ops import pdf_to_glyphs, pdf_to_page_text

    docs, tiny_dir = pdf_tables
    fused = {
        (r["doc_id"], r["page"]): r["text"]
        for r in pdf_to_page_text(docs).filter(F.col("error").isNull()).collect()
    }
    golden = {
        (r["doc_id"], r["page"]): r["text"]
        for r in spark.read.parquet(f"{tiny_dir}/golden_pdf_text.parquet").collect()
    }
    assert fused == golden
    composed = {
        (r["doc_id"], r["page"]): r["text"]
        for r in glyphs_to_page_text(
            pdf_to_glyphs(docs).filter(F.col("error").isNull()).drop("error")
        ).collect()
    }
    assert composed == golden


# every (id, payload) byte kernel operator -> (module, tiny-tier input)
_PAYLOAD_OPERATORS = {
    "pdf_to_glyphs": ("operators.pdf_ops", "pdf_docs.parquet"),
    "pdf_to_page_text": ("operators.pdf_ops", "pdf_docs.parquet"),
    "pdf_doc_records": ("operators.pdf_ops", "pdf_docs.parquet"),
    "decode_images": ("operators.multimodal", "image.parquet"),
    "resize_images": ("operators.multimodal", "image.parquet"),
    "decode_audio": ("operators.multimodal", "audio.parquet"),
    "audio_features": ("operators.multimodal", "audio.parquet"),
    "decode_videos": ("operators.multimodal", "video.parquet"),
    "sample_frames": ("operators.multimodal", "video.parquet"),
    "sample_frame_pixels": ("operators.multimodal", "video.parquet"),
    "read_warc": ("sources.warc", "warc"),
    "read_wet": ("sources.warc", "wet"),
    "warc_lineage": ("sources.warc", "warc"),
}


@pytest.mark.parametrize("operator", list(_PAYLOAD_OPERATORS))
def test_pdf_chain_plan_is_exchange_free(spark, tiny_dir, operator):
    """Every byte kernel operator (PDF, PNG, WAV, MP4, WARC) must stay a
    zero-Exchange scan -> ONE mapInArrow plan (the shared payload loop;
    the html extraction branch's shape) — no pandas hop."""
    import importlib

    module, data = _PAYLOAD_OPERATORS[operator]
    fn = getattr(importlib.import_module(f"ocr_spark.{module}"), operator)
    src = f"{tiny_dir}/{data}"
    df = fn(spark, src) if module == "sources.warc" else fn(spark.read.parquet(src))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInArrow") == 1, plan
    assert "MapInPandas" not in plan and "Exchange" not in plan, plan


def test_fixture_coverage_guard(spark, small_dir):
    """Fixture coverage guard at the ORACLE tier (small, 150 docs): Flate
    AND raw content streams, classic AND xref-stream layouts, ObjStm
    packing, the PNG predictor, incremental updates, and at least 4 error
    kinds must all be exercised — otherwise parser paths silently lose
    coverage."""
    docs = spark.read.parquet(f"{small_dir}/pdf_docs.parquet")
    payloads = [bytes(r["pdf"]) for r in docs.collect()]
    n_flate = sum(b"/Filter /FlateDecode" in p for p in payloads)
    assert 0 < n_flate < len(payloads)
    assert any(b"/Type /XRef" in p for p in payloads)
    assert any(b"/Type /ObjStm" in p for p in payloads)
    assert any(b"/Predictor 12" in p for p in payloads)
    assert any(p.count(b"startxref") > 1 for p in payloads)
    errors = {
        r["error"]
        for r in spark.read.parquet(f"{small_dir}/golden_pdf_errors.parquet").collect()
        if r["error"]
    }
    assert len(errors) >= 4, errors


def test_pdf_attendance_end_to_end(spark, tiny_dir):
    """The reference's actual workflow from its titular format: PDF bytes
    -> parse -> glyphs -> XY-cut reading order -> label-anchored fields ==
    the attendance golden (four chained stages, byte-identity)."""
    from pyspark.sql import functions as FF

    from ocr_spark.operators.attendance import attendance_records
    from ocr_spark.operators.layout_ops import (
        glyphs_to_page_text,
        pages_to_doc_text,
    )
    from ocr_spark.operators.pdf_ops import pdf_to_glyphs

    pdfs = spark.read.parquet(f"{tiny_dir}/attendance_pdfs.parquet")
    glyphs = pdf_to_glyphs(pdfs).filter(FF.col("error").isNull()).drop("error")
    doc_text = pages_to_doc_text(glyphs_to_page_text(glyphs))
    keyed = doc_text.join(pdfs.select("doc_id", "url"), "doc_id").select("url", "text")
    got = {
        r["url"]: (
            r["fields"]["classe"],
            r["fields"]["nombre_des_présents"],
            len(r["fields"]["présences"]),
        )
        for r in attendance_records(keyed, text_col="text").collect()
    }
    want = {
        r["url"]: (r["classe"], r["nombre_des_présents"], len(r["présences"]))
        for r in spark.read.parquet(f"{tiny_dir}/golden_attendance.parquet").collect()
    }
    assert got == want and len(got) > 0


# ---------------------------------------------------------------------------
# incremental updates (/Prev chains, P2)
# ---------------------------------------------------------------------------
def test_incremental_update_newest_entry_wins():
    """An incremental doc must show the UPDATED content; the base portion
    alone (file cut at the first %%EOF — exactly what an un-updated reader
    would have seen) must show the stale draft."""
    rng = random.Random("incr")
    for d in range(200):
        pdf, grows, trows, err = gen.gen_pdf_doc(rng, d)
        if err is None and pdf.count(b"startxref") > 1:
            break
    else:
        pytest.fail("no incremental doc generated in 200 draws")
    full_rows, e = pdf_glyphs(pdf)
    assert e is None
    base = pdf[: pdf.index(b"%%EOF") + 5]
    base_rows, eb = pdf_glyphs(base)
    assert eb is None
    full_text = "".join(r[1] for r in full_rows)
    base_text = "".join(r[1] for r in base_rows)
    assert "draftpendingreplacement" in base_text.replace(" ", "")
    assert "draftpendingreplacement" not in full_text.replace(" ", "")
    # and the full parse equals the golden (update content mirrored)
    krows = [(p, i, ch, x0, y0, x1, y1) for i, (p, ch, x0, y0, x1, y1) in enumerate(full_rows)]
    assert krows == grows


def test_prev_chain_loop_is_bad_xref():
    pdf = _minimal_pdf()
    i = pdf.rindex(b"startxref")
    off = int(pdf[i + len(b"startxref") : pdf.index(b"%%EOF", i)].strip())
    looped = pdf.replace(
        b"/Root 1 0 R >>", b"/Root 1 0 R /Prev " + str(off).encode() + b" >>", 1
    )
    assert pdf_glyphs(looped)[1] == "bad_xref"


def _handmade_pdf(objs: dict[int, bytes], root: int = 1) -> bytes:
    """A classic-xref PDF holding ``objs`` verbatim (``N 0 obj <body>
    endobj``); numbers missing from ``objs`` get free xref entries."""
    out = bytearray(b"%PDF-1.4\n")
    offs = {}
    for n, body in sorted(objs.items()):
        offs[n] = len(out)
        out += b"%d 0 obj %s endobj\n" % (n, body)
    xref, size = len(out), max(objs) + 1
    out += b"xref\n0 %d\n" % size
    for n in range(size):
        out += b"%010d 00000 n \n" % offs[n] if n in offs else b"0000000000 65535 f \n"
    out += b"trailer << /Size %d /Root %d 0 R >>\nstartxref\n%d\n%%%%EOF\n" % (
        size, root, xref,
    )
    return bytes(out)


def test_self_referencing_root_is_bad_xref_within_deadline(deadline):
    pdf = _handmade_pdf({1: b"1 0 R"})
    with deadline(0.5):
        assert pdf_glyphs(pdf) == ([], "bad_xref")


def test_shared_kids_dag_is_bad_page_tree_within_deadline(deadline):
    """40 levels of ``/Kids [n 0 R n 0 R]``: 2**40 root-to-leaf paths
    through 42 objects.  A node reached twice is not a tree."""
    depth = 40
    objs = {1: b"<< /Type /Catalog /Pages 2 0 R >>"}
    for k in range(2, depth + 2):
        objs[k] = b"<< /Type /Pages /Kids [%d 0 R %d 0 R] /Count %d >>" % (
            k + 1, k + 1, 2 ** (depth + 2 - k),
        )
    objs[depth + 2] = b"<< /Type /Page /MediaBox [0 0 612 792] >>"
    pdf = _handmade_pdf(objs)
    with deadline(0.5):
        assert pdf_glyphs(pdf) == ([], "bad_page_tree")


def test_pages_sharing_one_content_stream_are_doc_too_large_within_deadline(deadline):
    """100 page objects over one Flate stream of a 150,000-char show: an
    8 KB file that replays 15M glyphs unless the document's content work
    is capped."""
    n_pages = 100
    content = zlib.compress(b"BT /F1 10 Tf 72 700 Td (" + b"a" * 150_000 + b") Tj ET", 9)
    objs = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /MediaBox [0 0 612 792] /Resources << /Font << /F1 3 0 R >> >>"
        b" /Kids [%s] /Count %d >>" % (b" ".join(b"%d 0 R" % (5 + i) for i in range(n_pages)), n_pages),
        3: b"<< /Type /Font /Subtype /Type1 /BaseFont /Courier >>",
        4: b"<< /Length %d /Filter /FlateDecode >>\nstream\n%s\nendstream" % (len(content), content),
    }
    for i in range(n_pages):
        objs[5 + i] = b"<< /Type /Page /Contents 4 0 R >>"
    pdf = _handmade_pdf(objs)
    assert len(pdf) < 10_000
    with deadline(3.0):
        assert pdf_glyphs(pdf) == ([], "doc_too_large")


def _contents_array_pdf(content: bytes, times: int, flate: bool) -> bytes:
    """One page whose /Contents array names one stream ``times`` times."""
    stream = zlib.compress(content, 9) if flate else content
    return _handmade_pdf(
        {
            1: b"<< /Type /Catalog /Pages 2 0 R >>",
            2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
            3: b"<< /Type /Page /MediaBox [0 0 612 792] /Contents [%s] >>"
            % b" ".join([b"4 0 R"] * times),
            4: b"<< /Length %d%s >>\nstream\n%s\nendstream"
            % (len(stream), b" /Filter /FlateDecode" if flate else b"", stream),
        }
    )


def test_contents_array_naming_one_stream_many_times_is_stream_too_large_within_deadline(deadline):
    """A ~2 KB file whose page names one 1 MB comment-only Flate stream
    100 times: the joined content stops at ``max_stream_bytes`` instead of
    holding 100 copies."""
    pdf = _contents_array_pdf(b"%" + b"x" * (1 << 20) + b"\n", 100, flate=True)
    assert len(pdf) < 4_000
    with deadline(1.0):
        assert pdf_glyphs(pdf) == ([], "stream_too_large")
    # the bound is on the joined length: 3 x 10 bytes + 2 newlines
    small = _contents_array_pdf(b"BT ET    \n", 3, flate=False)
    assert pdf_glyphs(small, max_stream_bytes=32) == ([], None)
    assert pdf_glyphs(small, max_stream_bytes=31) == ([], "stream_too_large")


def _staircase_pdf(n: int) -> bytes:
    """One page whose TJ shows ``n`` glyphs 25 pt apart: every XY-cut
    node peels off one glyph, so the cut is ``n`` levels deep."""
    content = zlib.compress(b"BT /F1 10 Tf 72 400 Td [" + b"(a) -2500 " * n + b"] TJ ET", 9)
    return _handmade_pdf(
        {
            1: b"<< /Type /Catalog /Pages 2 0 R >>",
            2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
            3: b"<< /Type /Page /MediaBox [0 0 612 792] /Contents 4 0 R "
            b"/Resources << /Font << /F1 5 0 R >> >> >>",
            4: b"<< /Length %d /Filter /FlateDecode >>\nstream\n%s\nendstream" % (len(content), content),
            5: b"<< /Type /Font /Subtype /Type1 /BaseFont /Courier >>",
        }
    )


def test_xycut_staircase_lays_out_without_recursion():
    """3,000 glyphs one cut each, deeper than the interpreter's recursion
    limit: the emitters give the page's text, one glyph per leaf."""
    from ocr_spark.operators.pdf_ops import _emit_doc, _emit_pages

    pdf = _staircase_pdf(3000)
    assert len(pdf) < 1000
    text = "\n".join(["a"] * 3000)
    doc, pages = [], []
    _emit_doc(doc, 7, pdf)
    _emit_pages(pages, 7, pdf)
    assert doc == [(7, text, 1, None)]
    assert pages == [(7, 1, text, None)]


def test_xycut_staircase_past_layout_budget_is_doc_too_large_within_deadline(deadline):
    """The largest staircase ``MAX_DOC_WORK`` admits (one unit per
    operator and per shown byte) costs quadratic cut work unless the
    document's layout work is capped: ``doc_too_large``, one row."""
    from ocr_spark.operators.pdf_ops import _emit_doc, _emit_pages

    pdf = _staircase_pdf(pdfmod.MAX_DOC_WORK - 5)  # BT Tf Td TJ ET
    assert len(pdf) < 30_000
    doc, pages = [], []
    with deadline(20.0):
        _emit_doc(doc, 7, pdf)
    assert doc == [(7, "", 0, "doc_too_large")]
    with deadline(20.0):
        _emit_pages(pages, 7, pdf)
    assert pages == [(7, 0, "", "doc_too_large")]


def test_work_budget_charges_one_unit_per_operator(monkeypatch):
    """Each operator costs exactly 1 unit of ``MAX_DOC_WORK``."""
    monkeypatch.setattr(pdfmod, "MAX_DOC_WORK", 10)
    assert pdf_glyphs(_minimal_pdf(b"BT ET " * 5)) == ([], None)
    assert pdf_glyphs(_minimal_pdf(b"BT ET " * 5 + b"q")) == ([], "doc_too_large")


def _one_page_pdf(content: bytes) -> bytes:
    """One US-Letter page over ``content``; /F1 Courier, /F2 Helvetica."""
    return _handmade_pdf(
        {
            1: b"<< /Type /Catalog /Pages 2 0 R >>",
            2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
            3: b"<< /Type /Page /MediaBox [0 0 612 792] /Contents 4 0 R "
            b"/Resources << /Font << /F1 5 0 R /F2 6 0 R >> >> >>",
            4: b"<< /Length %d >>\nstream\n%s\nendstream" % (len(content), content),
            5: b"<< /Type /Font /Subtype /Type1 /BaseFont /Courier >>",
            6: b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
        }
    )


def test_show_error_precedence():
    """Within one show: an undefined WinAnsi byte (0x81) anywhere beats a
    Helvetica char with no width (0xE9); a show before any Tf is
    missing_font, even an empty one."""
    cases = {
        b"BT /F2 10 Tf (\\201\\351) Tj ET": "bad_content",
        b"BT /F2 10 Tf (\\351\\201) Tj ET": "bad_content",
        b"BT /F2 10 Tf (\\351) Tj ET": "missing_width",
        b"BT /F2 10 Tf (a\\351) Tj ET": "missing_width",
        b"BT /F1 10 Tf (\\351) Tj ET": None,  # Courier has every width
        b"BT () Tj ET": "missing_font",
    }
    for content, code in cases.items():
        assert pdf_glyphs(_one_page_pdf(content))[1] == code, content


def test_empty_show_emits_nothing_and_keeps_the_pen():
    plain = pdf_glyphs(_one_page_pdf(b"BT /F2 10 Tf 72 700 Td (a) Tj (b) Tj ET"))
    assert plain[1] is None and len(plain[0]) == 2
    for content in (
        b"BT /F2 10 Tf 72 700 Td (a) Tj () Tj (b) Tj ET",
        b"BT /F2 10 Tf 72 700 Td [(a) () <> (b)] TJ ET",
    ):
        assert pdf_glyphs(_one_page_pdf(content)) == plain, content


def _p7_rows(font: str, size: float, x: float, y: float, elements) -> list[tuple]:
    """The scalar P7 loop: one page, one Td to (x, y), then shows (bytes)
    and TJ kerns (numbers) in order."""
    widths = pdfmod.HELVETICA_WIDTHS if font == "Helvetica" else pdfmod.COURIER_WIDTHS
    y_top = 792.0 - y
    rows = []
    for el in elements:
        if isinstance(el, bytes):
            for ch in el.decode("cp1252"):
                adv = widths.get(ch) * size / 1000.0
                if ch != " ":
                    rows.append((1, ch, x, y_top - 0.8 * size, x + adv - 0.5, y_top))
                x = x + adv
        else:
            x = x - el * size / 1000.0
    return rows


def test_vectorized_show_matches_scalar_p7_property():
    """Random shows, TJ kerns and sizes: the kernel's boxes equal the
    scalar P7 loop bit for bit (repr distinguishes -0.0 and every ulp)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    helv = bytes(sorted(ord(c) for c in pdfmod.HELVETICA_WIDTHS))
    courier = bytes(b for b in range(256) if b not in b"\x81\x8d\x8f\x90\x9d")  # WinAnsi
    num = st.floats(-1e4, 1e4, allow_nan=False).map(lambda v: float(gen._pdf_num(v)))

    @st.composite
    def pages(draw):
        font = draw(st.sampled_from(["Courier", "Helvetica"]))
        alphabet = courier if font == "Courier" else helv
        text = st.lists(st.sampled_from(alphabet), max_size=40).map(bytes)
        elements = draw(st.lists(st.one_of(text, num), max_size=12))
        size = draw(st.one_of(st.floats(0.5, 72.0), st.sampled_from([0.0, 10.0, -7.5])))
        size = float(gen._pdf_num(size))
        return font, size, draw(num), draw(num), elements, draw(st.integers(0, 2**31))

    @settings(max_examples=200, deadline=None)
    @given(pages())
    def prop(page):
        font, size, x, y, elements, seed = page
        rng = random.Random(seed)
        ops = []
        for el in elements:
            if isinstance(el, bytes):
                ops.append(gen._pdf_lit(el, rng).encode("latin-1"))
            else:
                ops.append(gen._pdf_num(el).encode())
        content = b"BT /%s %s Tf %s %s Td [%s] TJ ET" % (
            b"F1" if font == "Courier" else b"F2",
            gen._pdf_num(size).encode(), gen._pdf_num(x).encode(),
            gen._pdf_num(y).encode(), b" ".join(ops),
        )
        rows, err = pdf_glyphs(_one_page_pdf(content))
        assert err is None
        assert repr(rows) == repr(_p7_rows(font, size, x, y, elements))

    prop()


def test_chain_sums_match_sequential_sums_property():
    """``_chain_sums`` gives every chain the left-to-right float sums of
    a scalar loop, bit for bit, in one padded block or grouped by length
    (one long chain among many short ones), with inf and nan included."""
    from hypothesis import example, given, settings

    @settings(max_examples=200, deadline=None)
    @given(st.lists(st.lists(st.floats(), min_size=1, max_size=70), min_size=1, max_size=30))
    @example([[1.5] * 64] + [[0.1, 0.2]] * 29)
    def prop(chains):
        v = np.array([x for c in chains for x in c] + [0.0])
        bounds = np.cumsum([0] + [len(c) for c in chains])
        with np.errstate(all="ignore"):
            pdfmod._chain_sums(v, bounds)
        want = []
        for c in chains:
            acc = c[0]
            want.append(acc)
            for x in c[1:]:
                acc = acc + x
                want.append(acc)
        assert v[:-1].tobytes() == np.array(want).tobytes()

    prop()


@pytest.mark.parametrize("section", ["table", "stream"])
def test_incremental_free_entry_hides_older_definition(section):
    """An update that frees object 4 (the page content) must not let the
    base section's entry resurrect it: the reference is now to a free
    object (bad_xref), while the base file alone still parses."""
    content = b"BT /F1 10 Tf 72 700 Td (hi) Tj ET"
    base = _handmade_pdf(
        {
            1: b"<< /Type /Catalog /Pages 2 0 R >>",
            2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
            3: b"<< /Type /Page /MediaBox [0 0 612 792] /Contents 4 0 R "
            b"/Resources << /Font << /F1 5 0 R >> >> >>",
            4: b"<< /Length %d >>\nstream\n%s\nendstream" % (len(content), content),
            5: b"<< /Type /Font /Subtype /Type1 /BaseFont /Courier >>",
        }
    )
    rows, err = pdf_glyphs(base)
    assert err is None and "".join(r[1] for r in rows) == "hi"
    prev = int(base[base.rindex(b"startxref") + 9 : base.rindex(b"%%EOF")])
    off = len(base)
    if section == "table":
        update = b"xref\n4 1\n0000000000 00001 f \ntrailer << /Size 6 /Root 1 0 R /Prev %d >>\n" % prev
    else:
        entry = bytes([0, 0, 0, 0, 0, 1])  # type 0 (free), next 0, gen 1
        update = (
            b"6 0 obj << /Type /XRef /W [1 4 1] /Index [4 1] /Size 7 /Root 1 0 R "
            b"/Prev %d /Length 6 >>\nstream\n%s\nendstream endobj\n" % (prev, entry)
        )
    updated = base + update + b"startxref\n%d\n%%%%EOF\n" % off
    assert pdf_glyphs(updated) == ([], "bad_xref")


def test_mutation_fuzz_never_raises_and_tail_preserved(deadline):
    """Byte-flip mutations that PRESERVE the xref/trailer tail (so parsing
    reaches the object/content layers, unlike the truncation sweep) must
    always land in the error channel or parse cleanly — never raise, and
    each within a deadline."""
    rng = random.Random("fuzz")
    pdf, grows, trows, err = gen.gen_pdf_doc(random.Random("fuzz-doc"), 1)
    assert err is None
    tail_start = pdf.rindex(b"xref")
    for trial in range(300):
        b = bytearray(pdf)
        for _ in range(rng.randint(1, 6)):
            i = rng.randrange(tail_start)  # mutate the body only
            b[i] = rng.randrange(256)
        with deadline(0.5):
            rows, code = pdf_glyphs(bytes(b))
        assert code is None or code in pdfmod.ERROR_CODES, code
    # content-layer type confusion specifically (operand of the wrong
    # type reaching an operator) must be recorded, not raised
    bad_contents = [
        b"BT /F1 10 Tf 5 Tj ET",          # number shown as a string
        b"BT /F1 10 Tf (x) (y) Td (z) Tj ET",  # strings fed to Td
        b"BT (s) 10 Tf (z) Tj ET",        # string font name operand
        b"BT /F1 10 Tf [(a) (b) 5 <41>] TJ T* ET",  # T* with no leading set is fine; junk TJ ok
    ]
    for content in bad_contents:
        with deadline(0.5):
            rows, code = pdf_glyphs(_minimal_pdf(content))
        assert code is None or code in pdfmod.ERROR_CODES, (content, code)


# ---------------------------------------------------------------------------
# PDF 1.5: xref streams + object streams (P2/P3)
# ---------------------------------------------------------------------------
def test_xref_stream_layouts_parse_identically():
    """The same page content through every file layout — classic table,
    xref stream, +ObjStm packing, +PNG-Up predictor — must yield the
    identical glyph table (the layout is transport, never semantics)."""
    content = b"BT /F1 10 Tf 72 700 Td (layout invariance) Tj ET"
    variants = []
    for xrs, objstm, pred in (
        (False, False, False),
        (True, False, False),
        (True, True, False),
        (True, True, True),
        (True, False, True),
    ):
        pdf = gen._pdf_build_file(
            random.Random(9), [content], inherited_attrs=True,
            nested_tree=False, xref_stream=xrs, use_objstm=objstm,
            xref_predictor=pred,
        )
        rows, err = pdf_glyphs(pdf)
        assert err is None, (xrs, objstm, pred, err)
        variants.append(rows)
    assert all(v == variants[0] for v in variants[1:])
    assert "".join(r[1] for r in variants[0]) == "layoutinvariance"


def test_xref_stream_corruption_is_bad_xref():
    pdf = gen._pdf_build_file(
        random.Random(3), [b"BT /F1 10 Tf 72 700 Td (x) Tj ET"],
        inherited_attrs=True, nested_tree=False,
        xref_stream=True, use_objstm=True, xref_predictor=True,
    )
    # corrupt the xref stream's Flate payload (keyword search must not
    # land inside 'endstream': anchor on the dict-close + keyword)
    x = pdf.index(b"/Type /XRef")
    i = pdf.index(b">>\nstream\n", x) + len(b">>\nstream\n")
    bad = pdf[:i] + b"\x00\x00" + pdf[i + 2 :]
    assert pdf_glyphs(bad)[1] == "bad_xref"
    # corrupting the ObjStm's payload must land in the error channel too
    j = pdf.index(b"/Type /ObjStm")
    k = pdf.index(b">>\nstream\n", j) + len(b">>\nstream\n")
    bad2 = pdf[:k] + b"\x00\x00" + pdf[k + 2 :]
    code = pdf_glyphs(bad2)[1]
    assert code in ("bad_stream", "bad_obj", "bad_xref"), code


# ---------------------------------------------------------------------------
# token-layer properties (hypothesis): generator encoders vs kernel lexer
# ---------------------------------------------------------------------------
def test_literal_string_roundtrip_property():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=300, deadline=None)
    @given(st.binary(max_size=64), st.integers(0, 2**31))
    def prop(data, seed):
        tok = gen._pdf_lit(data, random.Random(seed))
        lx = pdfmod._Lexer(tok.encode("latin-1"))
        assert lx.value() == data
        assert lx.pos == len(tok)

    prop()


def test_hex_string_roundtrip_property():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=200, deadline=None)
    @given(st.binary(max_size=64))
    def prop(data):
        lx = pdfmod._Lexer(b"<" + data.hex().encode() + b">")
        assert lx.value() == data

    prop()


def test_number_roundtrip_property():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=300, deadline=None)
    @given(
        st.floats(allow_nan=False, allow_infinity=False, min_value=-1e12, max_value=1e12)
    )
    def prop(v):
        tok = gen._pdf_num(v)
        lx = pdfmod._Lexer(tok.encode("latin-1"))
        parsed = lx.value()
        assert float(parsed) == v  # exact round trip (repr or int form)

    prop()


_TEST_SKIP = re.compile(rb"(?:[\x00\t\n\x0c\r ]+|%[^\n]*\n?)*")
_TEST_REGULAR = re.compile(rb"[^\x00\t\n\x0c\r ()<>\[\]{}/%]*")


def _lexer_only_tokens(content: bytes):
    """The content grammar read by ``_Lexer`` alone: an operand start
    goes to ``_Lexer.value``, any other regular run is an operator, and a
    delimiter that starts no operand is ``bad_content``."""
    pos = 0
    while True:
        pos = _TEST_SKIP.match(content, pos).end()
        if pos >= len(content):
            return
        c = content[pos]
        if c in b"/(<[+-.0123456789":
            lx = pdfmod._Lexer(content, pos)
            try:
                v = lx.value()
            except pdfmod.PdfError as e:
                raise pdfmod.PdfError("bad_content", str(e))
            pos = lx.pos
            yield v
        elif c in b")>]{}":
            raise pdfmod.PdfError("bad_content", f"stray delimiter at {pos}")
        else:
            end = _TEST_REGULAR.match(content, pos).end()
            yield content[pos:end].decode("latin-1")
            pos = end


def _typed(v):
    """A token with its type spelled out (Name vs str, int vs float)."""
    if isinstance(v, list):
        return ("list", [_typed(e) for e in v])
    if isinstance(v, tuple):
        return ("ref", v)
    return (type(v).__name__, v)


def _tokenize(fn, content: bytes):
    """Every token, then the error that stopped the stream (or None)."""
    toks: list = []
    try:
        for t in fn(content):
            toks.append(_typed(t))
    except pdfmod.PdfError as e:
        return toks, e.code
    return toks, None


@st.composite
def _content_streams(draw):
    """Random content streams over the whole P3 token grammar, glued or
    spaced: operators, ints, reals with exponents, ``N G R`` refs and
    near misses, names, literal strings with escapes and nested parens,
    hex strings, nested arrays, comments and stray delimiters."""
    ints = st.integers(-10**6, 10**6).map(lambda v: str(v).encode())
    reals = st.one_of(
        st.floats(allow_nan=False, allow_infinity=False).map(lambda v: repr(v).encode()),
        st.sampled_from([b".5", b"5.", b"-.5e-3", b"+1E5", b"00.5", b"1e", b"1.2.3", b"+", b"-", b".", b"1e400", b"5e+"]),
    )
    refs = st.tuples(st.integers(0, 99), st.integers(0, 9)).flatmap(
        lambda ng: st.sampled_from([
            b"%d %d R" % ng, b"%d %dR" % ng, b"%d %d Rx" % ng, b"%d %d.0 R" % ng,
            b"%d %de1 R" % ng, b"%d.0 %d R" % ng, b"%d %%c\n %d R" % ng, b"%d %d R]" % ng,
        ])
    )
    ops = st.sampled_from([b"Tj", b"TJ", b"Td", b"BT", b"ET", b"'", b"T*", b"R", b"RG", b"true", b"null", b"e", b"d0", b"\x0bq"])
    names = st.binary(max_size=6).map(lambda b: b"/" + bytes(c for c in b if c not in b"\x00\t\n\x0c\r ()<>[]{}/%"))
    lits = st.one_of(
        st.tuples(st.binary(max_size=12), st.integers(0, 2**31)).map(
            lambda t: gen._pdf_lit(t[0], random.Random(t[1])).encode("latin-1")
        ),
        st.sampled_from([b"(a(b)c)", b"(a\\)b)", b"(ab", b"(a\\", b"(\\(\\(", b"()", b"(\\\r\nx)", b"(\\0053)"]),
    )
    hexes = st.one_of(
        st.binary(max_size=8).map(lambda b: b"<" + b.hex().encode() + b">"),
        st.sampled_from([b"<4 1 4>", b"<abc>", b"<zz>", b"<41", b"<>", b"<< /A 1 >>", b">>"]),
    )
    strays = st.sampled_from([b")", b">", b"]", b"{", b"}", b"[", b"%comment\n", b"%tail"])
    leaf = st.one_of(ops, ints, reals, refs, names, lits, hexes, strays)
    tokens = st.recursive(
        leaf, lambda inner: st.lists(inner, max_size=4).map(lambda xs: b"[" + b" ".join(xs) + b"]"),
        max_leaves=12,
    )
    seps = st.sampled_from([b" ", b"\n", b"\r\n", b"\t", b"\x00", b"\x0c", b"", b"  "])
    parts = draw(st.lists(tokens, max_size=12))
    out = b""
    for p in parts:
        out += draw(seps) + p
    return out + draw(seps)


def test_content_tokens_match_lexer_only_grammar_property():
    """``_content_tokens`` yields exactly what ``_Lexer`` alone reads from
    any content stream, types included, and stops with the same
    ``bad_content`` after the same tokens."""
    from hypothesis import example, given, settings

    @settings(max_examples=400, deadline=None)
    @given(_content_streams())
    @example(b"1 0 R 2 0 R Tj")
    @example(b"BT /F1 10 Tf [(a) -25 (b\\351)] TJ 1 %c\n0 R ET")
    @example(b"5Tj 1.2.3 [ [1 (x)] true ] <41 42> << /K 1 >> ]")
    def prop(content):
        assert _tokenize(pdfmod._content_tokens, content) == _tokenize(_lexer_only_tokens, content)

    prop()


def test_unpredict_inverts_forward_filters_property():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=120, deadline=None)
    @given(st.binary(min_size=7, max_size=7 * 40).filter(lambda b: len(b) % 7 == 0),
           st.integers(0, 2**31))
    def prop(raw, seed):
        rng = random.Random(seed)
        cols = 7
        out = bytearray()
        prior = bytes(cols)
        for i in range(0, len(raw), cols):
            cur = raw[i : i + cols]
            if rng.random() < 0.3:
                out += b"\x00" + cur
            else:
                out += b"\x02" + bytes((cur[j] - prior[j]) & 0xFF for j in range(cols))
            prior = cur
        assert pdfmod._unpredict(bytes(out), 12, cols) == raw

    prop()


def test_pdf_pipeline_resumable(spark, tiny_dir, tmp_path):
    """The PDF front door through the RESUMABLE production pipeline
    (extract_job --format pdf shape): crash after 2 bucket groups, rerun,
    final table equals the golden doc-text assembly exactly-once."""
    from ocr_spark.operators.pdf_ops import pdf_doc_records
    from ocr_spark.plans.pipeline import ExtractionPipeline
    from ocr_spark.sources.icelite import IceliteTable

    docs = spark.read.parquet(f"{tiny_dir}/pdf_docs.parquet")
    out = IceliteTable(str(tmp_path / "pdf_table"), key_col="doc_id", n_buckets=8)
    pipe = ExtractionPipeline(
        out, n_buckets=8, group_size=2, key_col="doc_id", transform=pdf_doc_records
    )
    with pytest.raises(RuntimeError, match="simulated crash"):
        pipe.run(docs, fail_after_groups=2)
    n_before = len(out.committed_groups())
    assert 0 < n_before <= 2
    stats = pipe.run(docs)  # resume: only the remaining groups
    assert stats["groups"] == 4 - n_before
    assert len(out.committed_groups()) == 4
    got = {
        r["doc_id"]: (r["text"], r["error"])
        for r in out.read(spark).select("doc_id", "text", "error").collect()
    }
    golden_pages = {}
    for r in spark.read.parquet(f"{tiny_dir}/golden_pdf_text.parquet").collect():
        golden_pages.setdefault(r["doc_id"], []).append((r["page"], r["text"]))
    want = {}
    for r in spark.read.parquet(f"{tiny_dir}/golden_pdf_errors.parquet").collect():
        if r["error"] is not None:
            want[r["doc_id"]] = ("", r["error"])
        else:
            pages = sorted(golden_pages[r["doc_id"]])
            want[r["doc_id"]] = ("\n".join(t for _, t in pages), None)
    assert got == want
    # idempotent rerun: nothing left to do
    again = pipe.run(docs)
    assert again["groups"] == 0


def test_pdf_streaming_ingest(spark, tiny_dir, tmp_path):
    """Streaming PDF ingestion (readStream -> pdf_doc_records ->
    foreachBatch MERGE, availableNow): the drained table's end state must
    equal the batch operator over the same files (the fixpoint-oracle
    pattern of stream_extract_state, applied to the PDF front door)."""
    from pyspark.sql import functions as FF

    from ocr_spark.operators.pdf_ops import pdf_doc_records
    from ocr_spark.sources.icelite import IceliteTable
    from ocr_spark.streaming.extract_stream import run_stream_once

    docs = spark.read.parquet(f"{tiny_dir}/pdf_docs.parquet")
    inp = str(tmp_path / "in")
    docs.repartition(6).write.parquet(inp)
    out = IceliteTable(str(tmp_path / "table"), key_col="doc_id", n_buckets=8)
    n = run_stream_once(
        spark, inp, out, str(tmp_path / "ckpt"),
        schema="doc_id long, pdf binary", transform=pdf_doc_records,
    )
    assert n == docs.count()
    got = {
        r["doc_id"]: (r["text"], r["n_pages"], r["error"])
        for r in out.read(spark).collect()
    }
    want = {
        r["doc_id"]: (r["text"], r["n_pages"], r["error"])
        for r in pdf_doc_records(docs).collect()
    }
    assert got == want


def test_resource_bounds_zlib_bomb_and_oversize():
    """A zlib bomb in a content stream costs one error row (bounded
    inflation), never memory; an oversized payload is rejected up front —
    the html branch's DOC_TOO_LARGE discipline applied to PDFs."""
    import zlib as _zlib

    # bomb: ~4 KB compressing to 16 MB of content-stream bytes
    bomb = _zlib.compress(b"BT ET " + b"\0" * (16 << 20))
    pdf = gen._pdf_build_file(
        random.Random(5), [b"BT ET"], inherited_attrs=True, nested_tree=False
    )
    # graft the bomb in as the content stream of a handmade minimal file
    objs = (
        b"%PDF-1.4\n"
        b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 /MediaBox [0 0 612 792] "
        b"/Resources << /Font << /F1 5 0 R >> >> >>\nendobj\n"
    )
    c = (
        f"4 0 obj\n<< /Length {len(bomb)} /Filter /FlateDecode >>\nstream\n".encode()
        + bomb
        + b"\nendstream\nendobj\n"
    )
    p3 = b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\nendobj\n"
    f5 = b"5 0 obj\n<< /Type /Font /Subtype /Type1 /BaseFont /Courier >>\nendobj\n"
    body = objs + p3 + c + f5
    offs = {n: body.index(f"{n} 0 obj".encode()) for n in (1, 2, 3, 4, 5)}
    xref_off = len(body)
    xref = b"xref\n0 6\n0000000000 65535 f \n" + b"".join(
        f"{offs[n]:010d} 00000 n \n".encode() for n in (1, 2, 3, 4, 5)
    )
    tail = f"trailer\n<< /Size 6 /Root 1 0 R >>\nstartxref\n{xref_off}\n%%EOF".encode()
    bombed = body + xref + tail
    rows, err = pdf_glyphs(bombed, max_stream_bytes=1 << 20)
    assert (rows, err) == ([], "stream_too_large")
    # with a roomy bound the same file parses (empty page, no glyphs)
    rows2, err2 = pdf_glyphs(bombed, max_stream_bytes=32 << 20)
    assert err2 is None and rows2 == []
    # payload-size cap
    assert pdf_glyphs(pdf, max_bytes=100) == ([], "doc_too_large")
    assert pdf_glyphs(pdf)[1] is None


def test_empty_shapes_and_glyphless_pages(spark):
    """Edge shapes: an empty input relation, a doc whose page draws no
    glyphs (BT ET), and a zero-page tree — all flow through the operators
    without rows or exceptions (glyphless pages are invisible to the
    assembly: there is no text to place)."""
    from ocr_spark.operators.pdf_ops import (
        pdf_doc_records,
        pdf_to_glyphs,
        pdf_to_page_text,
    )

    empty = spark.createDataFrame([], "doc_id long, pdf binary")
    assert pdf_to_glyphs(empty).count() == 0
    assert pdf_to_page_text(empty).count() == 0
    assert pdf_doc_records(empty).count() == 0

    blank = gen._pdf_build_file(
        random.Random(2), [b"BT ET"], inherited_attrs=True, nested_tree=False
    )
    rows, err = pdf_glyphs(blank)
    assert (rows, err) == ([], None)
    one = spark.createDataFrame(
        [(7, bytearray(blank))], "doc_id long, pdf binary"
    )
    recs = pdf_doc_records(one).collect()
    assert len(recs) == 1
    assert (recs[0]["text"], recs[0]["n_pages"], recs[0]["error"]) == ("", 0, None)

    # a glyphless page BETWEEN two pages that draw glyphs: the page cut
    # skips it (no page-2 row), and the document counts two text pages
    gap = gen._pdf_build_file(
        random.Random(3),
        [
            b"BT /F1 10 Tf 72 700 Td (first) Tj ET",
            b"BT ET",
            b"BT /F1 10 Tf 72 700 Td (third) Tj ET",
        ],
        inherited_attrs=True,
        nested_tree=False,
    )
    assert sorted({r[0] for r in pdf_glyphs(gap)[0]}) == [1, 3]
    two = spark.createDataFrame([(8, bytearray(gap))], "doc_id long, pdf binary")
    pages = pdf_to_page_text(two).orderBy("page").collect()
    assert [(r["page"], r["text"], r["error"]) for r in pages] == [
        (1, "first", None),
        (3, "third", None),
    ]
    [rec] = pdf_doc_records(two).collect()
    assert (rec["text"], rec["n_pages"], rec["error"]) == ("first\nthird", 2, None)
