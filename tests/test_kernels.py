"""Kernel unit tests — no Spark, pure functions (SURVEY.md §5.2)."""

from __future__ import annotations

import random

import numpy as np
import pyarrow.parquet as pq
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from ocr_spark.functions.fields import DEFAULT_FIELDS, extract_fields
from ocr_spark.functions.html_extract import (
    ERR_EMPTY,
    ERR_NO_CONTENT,
    ERR_TOO_LARGE,
    classify_main,
    extract_html_doc,
    tokenize_blocks,
)
from ocr_spark.fixtures import generator as gen
from ocr_spark.functions.layout import (
    LINE_CLUSTER_EPS,
    page_text,
    page_text_codes,
    page_texts_codes,
)
from ocr_spark.normalize import collapse_ws, join_blocks, nfc


# ---------------------------------------------------------------------------
# normalize spec
# ---------------------------------------------------------------------------
def test_collapse_ws():
    assert collapse_ws("  a\t b\n\nc  ") == "a b c"
    assert collapse_ws("") == ""
    assert collapse_ws(" \n\t ") == ""


def test_join_blocks_spans():
    text, spans = join_blocks(["abc", "de"])
    assert text == "abc\nde"
    assert spans == [("block_0", 0, 3), ("block_1", 4, 6)]
    assert join_blocks([]) == ("", [])


def test_nfc_applied():
    decomposed = "étude"  # é as e + combining acute
    text, spans = join_blocks([decomposed])
    assert text == "étude"
    assert spans[0][2] == 5  # NFC length, not NFD length


# ---------------------------------------------------------------------------
# html kernel
# ---------------------------------------------------------------------------
def test_tokenizer_basic():
    blocks = tokenize_blocks("<html><body><p>one two three</p><div>four</div></body></html>")
    assert [b.text for b in blocks] == ["one two three", "four"]


def test_tokenizer_entities_and_inline():
    blocks = tokenize_blocks("<p>fish &amp; chips <b>are</b> &#103;ood</p>")
    assert blocks[0].text == "fish & chips are good"


def test_tokenizer_ignores_script_style_head():
    html = "<head><title>T</title></head><body><script>var x=1;</script><p>real</p><style>p{}</style></body>"
    assert [b.text for b in tokenize_blocks(html)] == ["real"]


def test_link_density():
    blocks = tokenize_blocks('<div><a href="/">Home</a> <a href="/b">About</a></div>')
    assert blocks[0].link_density > 0.8


def test_classifier_main_vs_boiler():
    html = (
        '<nav><ul><li><a href="/">Home</a></li><li><a href="/a">About</a></li></ul></nav>'
        "<p>" + " ".join(["word"] * 20) + "</p>"
        '<footer><a href="/p">Privacy</a> <a href="/t">Terms</a></footer>'
    )
    blocks = tokenize_blocks(html)
    main = classify_main(blocks)
    texts = [b.text for b, m in zip(blocks, main) if m]
    assert texts == [" ".join(["word"] * 20)]


def test_error_channel():
    assert extract_html_doc(None)[3] == ERR_EMPTY
    assert extract_html_doc(b"")[3] == ERR_EMPTY
    assert extract_html_doc(b"<body><a href='/'>x</a></body>")[3] == ERR_NO_CONTENT
    big = b"x" * (9 * 1024 * 1024)
    t, s, n, err = extract_html_doc(big)
    assert err.startswith(ERR_TOO_LARGE) and t == "" and s == [] and n == 0


def test_malformed_never_raises():
    for bad in [b"<<<>><p", b"\xff\xfe\x00garbage", b"<p>" + b"\x00" * 100]:
        t, s, n, err = extract_html_doc(bad)  # must not raise
        assert isinstance(t, str)


@settings(max_examples=50, deadline=None)
@given(st.binary(max_size=2000))
def test_html_kernel_total(data):
    """Property: the kernel is total — any byte string yields the full
    default-valued payload shape (reference E6 semantics)."""
    t, s, n, err = extract_html_doc(data)
    assert isinstance(t, str) and isinstance(s, list) and isinstance(n, int)


# ---------------------------------------------------------------------------
# layout kernel
# ---------------------------------------------------------------------------
def _glyph_line(s: str, x: float, baseline: float):
    out = []
    for i, c in enumerate(s):
        if c == " ":
            continue
        gx = x + i * 6.0
        out.append((c, gx, baseline - 8.0, gx + 5.5, baseline))
    return out


def test_layout_single_line():
    g = _glyph_line("ab cd", 100.0, 200.0)
    ch, x0, y0, x1, y1 = zip(*g)
    assert page_text(list(ch), x0, y0, x1, y1) == "ab cd"


def test_layout_two_columns_reading_order():
    g = _glyph_line("left", 72.0, 200.0) + _glyph_line("right", 324.0, 200.0) + _glyph_line(
        "left2", 72.0, 214.0
    ) + _glyph_line("right2", 324.0, 214.0)
    ch, x0, y0, x1, y1 = zip(*g)
    assert page_text(list(ch), x0, y0, x1, y1) == "left\nleft2\nright\nright2"


def test_layout_header_footer_dropped():
    g = _glyph_line("head", 72.0, 50.0) + _glyph_line("body", 72.0, 300.0) + _glyph_line(
        "foot", 72.0, 760.0
    )
    ch, x0, y0, x1, y1 = zip(*g)
    assert page_text(list(ch), x0, y0, x1, y1) == "body"


def test_layout_empty_page():
    assert page_text([], [], [], [], []) == ""


# baseline offsets on, and within 1e-11 of, the line-clustering threshold:
# the vectorized clustering in page_text_codes defers those decisions to
# the sequential loop (_line_starts_seq), so both branches get exercised
_NEAR_EPS = st.sampled_from(
    [d * s for s in (1.0, -1.0) for d in (
        LINE_CLUSTER_EPS, LINE_CLUSTER_EPS + 1e-11, LINE_CLUSTER_EPS - 1e-11,
        LINE_CLUSTER_EPS / 2, 2 * LINE_CLUSTER_EPS,
    )]
)


@st.composite
def _glyph_pages(draw):
    # baselines mostly in the body band, some in the header/footer (rule L1)
    anchor = st.one_of(st.floats(80.0, 712.0), st.sampled_from([60.0, 730.0]))
    anchors = draw(st.lists(anchor, min_size=1, max_size=4))
    glyphs = []
    for _ in range(draw(st.integers(1, 60))):
        ch = draw(st.characters(codec="utf-8"))
        x0 = draw(st.one_of(st.floats(0.0, 600.0), st.sampled_from([72.0, 78.0, 324.0])))
        y1 = draw(st.sampled_from(anchors)) + draw(st.one_of(_NEAR_EPS, st.floats(-4.0, 4.0)))
        w, h = draw(st.floats(0.5, 12.0)), draw(st.floats(1.0, 12.0))
        glyphs.append((ch, x0, y1 - h, x0 + w, y1))
    return glyphs


def _both_kernels(glyphs):
    ch, *boxes = zip(*glyphs)
    codes = page_text_codes([ord(c) for c in ch], *boxes)
    return codes, page_text(list(ch), *boxes)


@settings(max_examples=300, deadline=None)
@given(_glyph_pages())
@example([("a", 100.0, 92.0, 105.0, 100.0), ("b", 110.0, 95.0, 115.0, 103.0)])
def test_page_text_codes_matches_page_text(glyphs):
    """The code-point kernel (production: layout_ops and pdf_ops) is
    byte-identical to the string spec on arbitrary pages, including
    baselines at the clustering threshold (the @example sits exactly on
    it)."""
    codes, spec = _both_kernels(glyphs)
    assert codes == spec


def test_page_text_codes_matches_page_text_on_generated_pdfs():
    rng = random.Random("page-text-codes")
    n_pages = 0
    for d in range(40):
        _, grows, _, _ = gen.gen_pdf_doc(rng, d)
        pages: dict[int, list] = {}
        for p, _gid, *glyph in grows:
            pages.setdefault(p, []).append(tuple(glyph))
        for glyphs in pages.values():
            codes, spec = _both_kernels(glyphs)
            assert codes == spec
            n_pages += 1
    assert n_pages > 40


@settings(max_examples=150, deadline=None)
@given(st.lists(_glyph_pages(), min_size=1, max_size=4), st.integers(1, 3))
def test_page_texts_codes_matches_page_text_per_page(pages, step):
    """The one-pass document kernel (pdf_ops) gives every page the string
    spec's text, leaf and page boundaries included; a page with glyphs
    but none in the body gets ""."""
    numbers = [1 + step * i for i in range(len(pages))]
    cols = [
        (p, ord(ch), *box)
        for p, glyphs in zip(numbers, pages)
        for ch, *box in glyphs
    ]
    page, cp, *boxes = (np.array(c) for c in zip(*cols))
    want = [(p, page_text(*zip(*glyphs))) for p, glyphs in zip(numbers, pages)]
    assert page_texts_codes(page, cp, *boxes) == want


# ---------------------------------------------------------------------------
# fields kernel
# ---------------------------------------------------------------------------
def test_fields_defaults_on_empty():
    f, err = extract_fields("")
    assert f == DEFAULT_FIELDS and err == "EMPTY_INPUT"
    f2, _ = extract_fields(None)
    assert set(f2) == set(DEFAULT_FIELDS)


def test_fields_basic():
    doc = "Classe: A3\nCours: Chimie\nDate: 05/03/2025\nNombre des présents: 2\n1. Alice B\n2. Bob C"
    f, err = extract_fields(doc)
    assert err is None
    assert f["classe"] == "A3" and f["cours"] == "Chimie"
    assert f["nombre_des_présents"] == 2
    assert f["présences"] == [
        {"n": "1", "nom_prénom": "Alice B"},
        {"n": "2", "nom_prénom": "Bob C"},
    ]
    assert f["salle_n"] == "" and f["séance"] == ""  # defaults, keys present


@settings(max_examples=50, deadline=None)
@given(st.text(max_size=500))
def test_fields_all_keys_always_present(text):
    """E5 contract: no key may ever be omitted."""
    f, _ = extract_fields(text)
    assert set(f.keys()) == set(DEFAULT_FIELDS.keys())
    assert isinstance(f["nombre_des_présents"], int)
    assert isinstance(f["présences"], list)


# ---------------------------------------------------------------------------
# full-tier golden identity (kernel-level; Spark-level in test_spark_e2e)
# ---------------------------------------------------------------------------
def test_small_tier_pages_byte_identical(small_dir):
    pages = pq.read_table(f"{small_dir}/pages.parquet").to_pylist()
    golden = {g["url"]: g for g in pq.read_table(f"{small_dir}/golden_pages.parquet").to_pylist()}
    for p in pages:
        text, spans, n_blocks, err = extract_html_doc(p["html"])
        g = golden[p["url"]]
        assert text == g["text"], p["url"]
        assert [{"field": f, "begin": b, "end": e} for f, b, e in spans] == g["spans"]
        assert n_blocks == g["n_blocks"]
        assert (err is not None) == g["expect_error"]


def test_small_tier_attendance_exact(small_dir):
    docs = pq.read_table(f"{small_dir}/attendance_docs.parquet").to_pylist()
    golden = {g["url"]: g for g in pq.read_table(f"{small_dir}/golden_attendance.parquet").to_pylist()}
    for d in docs:
        f, _ = extract_fields(d["doc_text"])
        g = golden[d["url"]]
        assert f == {k: g[k] for k in f}, d["url"]


def test_fields_spans_point_at_values():
    from ocr_spark.functions.fields import extract_fields_with_spans

    doc = "Classe: A3\nCours: Chimie\nNombre des présents: 12\n1. Alice B"
    f, spans, err = extract_fields_with_spans(doc)
    by_field = {s[0]: s for s in spans}
    assert doc[by_field["classe"][1] : by_field["classe"][2]] == "A3"
    assert doc[by_field["cours"][1] : by_field["cours"][2]] == "Chimie"
    assert doc[by_field["nombre_des_présents"][1] : by_field["nombre_des_présents"][2]] == "12"
    assert "salle_n" not in by_field  # omitted fields have no span


def test_small_tier_attendance_spans_exact(small_dir):
    import pyarrow.parquet as pq

    from ocr_spark.functions.fields import extract_fields_with_spans

    docs = pq.read_table(f"{small_dir}/attendance_docs.parquet").to_pylist()
    golden = {}
    for r in pq.read_table(f"{small_dir}/golden_attendance_spans.parquet").to_pylist():
        golden.setdefault(r["url"], []).append((r["span_field"], r["span_begin"], r["span_end"]))
    for d in docs:
        _f, spans, _e = extract_fields_with_spans(d["doc_text"])
        assert sorted(spans) == sorted(golden.get(d["url"], [])), d["url"]


def test_word_ngrams_and_hamming():
    from ocr_spark.functions.textstats import hamming64, simhash64, word_ngrams

    assert word_ngrams("a b c d", 3) == {"a b c", "b c d"}
    assert word_ngrams("a b", 3) == {"a b"}
    assert word_ngrams("", 3) == set()
    a, b = simhash64("x y z"), simhash64("x y z")
    assert hamming64(a, b) == 0
    assert hamming64(0b1011, 0b0001) == 2


# ---------------------------------------------------------------------------
# vectorized hashing kernels vs the scalar spec (bit-identity, hypothesis)
# ---------------------------------------------------------------------------
_texty = st.text(
    alphabet=st.characters(codec="utf-8"), max_size=300
)


@settings(max_examples=150, deadline=None)
@given(_texty)
def test_char_shingle_hashes_match_spec(t):
    import numpy as np

    from ocr_spark.functions import textstats as K

    fast = {int(v) for v in K.char_shingle_hashes(t, 5)}
    assert fast == {K.hash64(s) for s in K.char_shingles(t, 5)}
    [batched] = K.char_shingle_hashes_batch([t], 5)
    assert np.array_equal(batched, K.char_shingle_hashes(t, 5))


@settings(max_examples=100, deadline=None)
@given(st.lists(_texty, max_size=8))
def test_minhash_batch_matches_spec(texts):
    import numpy as np

    from ocr_spark.functions import textstats as K

    mat = K.minhash_batch(K.char_shingle_hashes_batch(texts), 64)
    band_mat = K.lsh_band_keys_batch(mat, 16) if len(texts) else None
    for i, t in enumerate(texts):
        spec = K.minhash_signature(K.char_shingles(t, 5), 64)
        assert np.array_equal(mat[i], spec), t[:40]
        assert [int(x) for x in band_mat[i]] == K.lsh_bands(spec, 16)


@settings(max_examples=150, deadline=None)
@given(_texty)
def test_simhash_and_fingerprints_match_scalar_loop(t):
    import numpy as np

    from ocr_spark.functions import textstats as K

    # simhash: scalar reference loop
    words = t.lower().split()
    if not words:
        ref = 0
    else:
        hs = np.array([K.hash64(w) for w in words], dtype=np.uint64)
        bits = (hs[:, None] >> np.arange(64, dtype=np.uint64)) & np.uint64(1)
        votes = bits.sum(axis=0, dtype=np.int64) * 2 - len(words)
        ref = 0
        for j in np.nonzero(votes > 0)[0]:
            ref |= 1 << int(j)
    assert K.simhash64(t) == ref
    # winnowing: scalar reference loop
    tt = " ".join(t.split()).lower()
    k, w = 7, 4
    if len(tt) < k:
        ref_fp = [K.hash64(tt)] if tt else []
    else:
        hh = [K.hash64(tt[i : i + k]) for i in range(len(tt) - k + 1)]
        if len(hh) <= w:
            ref_fp = [min(hh)]
        else:
            ref_fp, prev = [], None
            for i in range(len(hh) - w + 1):
                m = min(hh[i : i + w])
                if m != prev:
                    ref_fp.append(m)
                    prev = m
    assert K.rolling_fingerprints(t) == ref_fp


@settings(max_examples=80, deadline=None)
@given(st.lists(_texty, max_size=6))
def test_simhash_batch_matches_per_doc(texts):
    from ocr_spark.functions import textstats as K

    sb = K.simhash_batch(texts)
    for i, t in enumerate(texts):
        assert int(sb[i]) == K.simhash64(t)


@settings(max_examples=120, deadline=None)
@given(st.lists(_texty, max_size=6))
def test_detect_lang_batch_matches_spec(texts):
    """detect_lang_batch (one inverted-table probe per word) must equal the
    scalar spec loop, including the sorted-order strictly-greater
    tie-break, on arbitrary text."""
    from ocr_spark.functions import textstats as K

    assert K.detect_lang_batch(texts) == [K.detect_lang(t) for t in texts]


def test_detect_lang_batch_stopword_ties():
    """Handpicked tie-breaks: words shared by several language profiles
    must pick the alphabetically-first language with the max score (the
    scalar loop's strictly-greater rule)."""
    from ocr_spark.functions import textstats as K

    cases = [
        "de la en",          # shared es/fr stopwords
        "in a is the",       # en
        "",                  # und
        "zzz qqq xxx",       # no stopwords -> und
        "de de de",          # 'de' appears in several profiles
    ]
    assert K.detect_lang_batch(cases) == [K.detect_lang(t) for t in cases]


def test_classify_main_two_sweeps_equal_fixpoint_loop():
    """The O(n) forward+backward flood fill must equal the C2 while-changed
    fixpoint on every fusable/main configuration (hypothesis sweep +
    handpicked runs touching main on the left, right, both, neither)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from ocr_spark.functions.html_extract import (
        FUSE_MIN_WORDS,
        MAIN_LINK_DENSITY_MAX,
        MAIN_MIN_WORDS,
        Block,
        classify_main,
    )

    def fixpoint_reference(blocks):
        low_ld = [
            (b.anchor_chars / b.raw_chars if b.raw_chars else 0.0)
            < MAIN_LINK_DENSITY_MAX
            for b in blocks
        ]
        is_main = [ld and b.n_words >= MAIN_MIN_WORDS for ld, b in zip(low_ld, blocks)]
        fusable = [ld and b.n_words >= FUSE_MIN_WORDS for ld, b in zip(low_ld, blocks)]
        changed = True
        while changed:
            changed = False
            for i in range(len(blocks)):
                if is_main[i] or not fusable[i]:
                    continue
                if (i > 0 and is_main[i - 1]) or (
                    i + 1 < len(blocks) and is_main[i + 1]
                ):
                    is_main[i] = True
                    changed = True
        return is_main

    # kind: 0 = main (many words), 1 = fusable-only, 2 = neither
    words_for = {0: MAIN_MIN_WORDS, 1: FUSE_MIN_WORDS, 2: max(FUSE_MIN_WORDS - 1, 0)}

    def mk(kinds):
        return [
            Block("w " * words_for[k], words_for[k], 0, max(words_for[k] * 2, 1), 0)
            for k in kinds
        ]

    @settings(max_examples=300, deadline=None)
    @given(st.lists(st.integers(min_value=0, max_value=2), max_size=24))
    def sweep(kinds):
        blocks = mk(kinds)
        assert classify_main(blocks) == fixpoint_reference(blocks)

    sweep()
    for kinds in ([0, 1, 1, 1], [1, 1, 1, 0], [0, 1, 2, 1, 0], [1, 1], [0], []):
        blocks = mk(kinds)
        assert classify_main(blocks) == fixpoint_reference(blocks)


@settings(max_examples=400, deadline=None)
@given(
    st.lists(
        st.sampled_from(
            list("<>/!-abp d&;\"'=[]CDATA?\n\tq…é") + ["&amp;", "<p>", "</p>",
             "<a href='x'>", "</a>", "<div>", "<!--", "-->", "<![CDATA[",
             "]]>", "<script>", "</script>", "<br/>", "<P >", "<a b=\">\">"]
        ),
        max_size=40,
    )
)
def test_split_tokenizer_matches_scanner_reference_on_adversarial_html(fragments):
    """The bulk re.split scanner must equal the regex-free character-scanner
    reference (same frozen grammar, independent implementation) on adversarial
    tag soup: stray '<', unterminated comments / CDATA, quoted '>' in
    attributes, self-closing and ignored tags, entity fragments, mixed case.
    (html.parser is NOT the weeds reference — its EOF/bogus-comment recovery
    re-emits junk markup as data with CPython-specific chunking; the frozen
    grammar drops it, per the HTML5 bogus-comment rule.)"""
    from ocr_spark.functions.html_extract import (
        tokenize_blocks,
        tokenize_blocks_reference,
    )

    html = "".join(fragments)
    assert tokenize_blocks(html) == tokenize_blocks_reference(html)


def test_split_tokenizer_linear_on_truncated_tags():
    """Regression: a document cut mid-tag (no closing '>' before EOF) must
    tokenize in linear time and still equal the character-scanner reference.
    Pre-fix, the attrs loop was the classic (a+)* exponential-backtracking
    shape — 28 plain attribute chars took >17 s, doubling per char; the
    possessive rewrite handles 20k chars in microseconds."""
    import time

    from ocr_spark.functions.html_extract import (
        tokenize_blocks,
        tokenize_blocks_reference,
    )

    for prefix in ("<a ", "<a href=", "<div class=x ", '<a b="'):
        html = "text " + prefix + "x" * 20000  # EOF mid-tag, never closes
        t0 = time.time()
        fast = tokenize_blocks(html)
        assert time.time() - t0 < 1.0, f"superlinear tokenize on {prefix!r}"
        assert fast == tokenize_blocks_reference(html)


def test_split_tokenizer_matches_scanner_reference_on_generated_pages():
    """On the realistic (well-formed) fixture distribution the regex scanner
    and the character-scanner reference agree block-for-block on the pages
    the engine actually serves."""
    import random

    from ocr_spark.fixtures.generator import _host_pool, gen_pages_doc
    from ocr_spark.functions.html_extract import (
        tokenize_blocks,
        tokenize_blocks_reference,
    )

    rng = random.Random(0xD1FF)
    hosts = _host_pool(rng)
    checked = 0
    for i in range(200):
        doc = gen_pages_doc(rng, i, hosts)
        html = doc["html"]
        if html is None:
            continue
        decoded = html.decode("utf-8", errors="replace") if isinstance(html, bytes) else html
        fast = tokenize_blocks(decoded)
        assert fast == tokenize_blocks_reference(decoded)
        checked += 1
    assert checked >= 150
