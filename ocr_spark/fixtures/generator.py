"""Deterministic fixture generator (seed 42) — FIXTURES.md made real.

Every fixture table is paired with a **golden** table produced by the same
generator: the generator knows which blocks are main content, so goldens are
exact by construction.  This replaces the reference's human-in-the-loop
check (reference: docs/blueprint.md:7 "Editable Data Display") and its LLM
nondeterminism with an exact oracle.

The generator and the extraction kernels are written against the same frozen
spec (ocr_spark/normalize.py, functions/html_extract.py C1-C3,
functions/layout.py L1-L4) but through *independent code paths*: the
generator composes documents from known parts; the kernels recover them.

Generator-side separation guarantees (so classification is provably exact):
  G1. Main paragraphs have >= 15 words and at most one inline link whose
      text is a single word  -> link_density far below 0.33, n_words >= 10.
  G2. Boilerplate blocks have either <= 2 words, or >= 50% linked chars
      (menus, copyright link rows)  -> never MAIN, never fusable (C2 needs
      link_density < 0.33).
  G3. Pathological docs (~7%) are drawn from: empty payload (zero html
      bytes), empty body, boilerplate-only, deeply-nested-but-normal,
      truncated-inside-footer, malformed markup in boilerplate.  Only the
      first three yield text="" + expect_error, each with a predicted
      kernel error CODE (_expect_error_code: EMPTY_INPUT / NO_CONTENT)
      backing the extract_errors histogram oracle.

Tiers: tiny (~100 pages docs), small (~1000), bench (160k pages + 8k glyph docs).
"""

from __future__ import annotations

import html as html_mod
import json
import os
import random
import unicodedata
import zlib
from datetime import datetime, timedelta, timezone

import pyarrow as pa
import pyarrow.parquet as pq

# NOTE: deliberately NO imports from ocr_spark.normalize (or any kernel
# module).  Byte-identity is proven by independent code paths: the rules
# N3/N4/N5 are reimplemented below from the spec text, so a bug in the
# kernel's join_blocks/nfc cannot silently propagate into the goldens
# (VERDICT r1 "What's wrong" #4).


def nfc(s: str) -> str:
    """Rule N4, generator-side (spec: ocr_spark/normalize.py:35-37)."""
    return unicodedata.normalize("NFC", s)


def join_blocks(blocks: list[str]) -> tuple[str, list[tuple[str, int, int]]]:
    """Rules N3+N5 reimplemented independently of the kernel: block starts
    via the closed form sum(len(prior blocks)) + i joiners, rather than the
    kernel's running-position accumulation (ocr_spark/normalize.py:40-54).
    Both must agree byte-for-byte — enforced by every golden-identity test."""
    normed = [nfc(b) for b in blocks]
    lens = [len(b) for b in normed]
    starts = [sum(lens[:i]) + i for i in range(len(normed))]
    spans = [
        (f"block_{i}", s, s + n) for i, (s, n) in enumerate(zip(starts, lens))
    ]
    return "\n".join(normed), spans

SEED = 42
FORMAT_VERSION = 32  # bump to force regeneration everywhere (v32: PDF-1.5 xref-stream / ObjStm / predictor variants)

# bench is sized so the extraction stage runs for seconds, not hundreds of
# milliseconds, at local[32] — otherwise the ~0.3 s fixed job floor (task
# scheduling, result collection) dominates and the N-vs-4N scaling
# comparison measures overhead, not the operator.
TIERS = {
    "tiny": {"pages": 100, "glyph_docs": 20, "attendance": 50, "warc_files": 4, "audio": 40, "video": 40, "image": 40, "corpus": 120, "pdf_docs": 40},
    "small": {"pages": 1000, "glyph_docs": 200, "attendance": 400, "warc_files": 8, "audio": 200, "video": 200, "image": 200, "corpus": 2000, "pdf_docs": 150},
    "bench": {"pages": 160000, "glyph_docs": 8000, "attendance": 0, "warc_files": 0, "audio": 0, "video": 0, "image": 0, "corpus": 120000, "pdf_docs": 4000},
}

EPOCH = datetime(2025, 1, 1, tzinfo=timezone.utc)

# ---------------------------------------------------------------------------
# word pools (NFC source-of-truth; generator may emit NFD into the HTML to
# exercise normalize rule N4)
# ---------------------------------------------------------------------------
_WORDS = {
    "en": (
        "the quick brown fox jumps over lazy dog while reading ancient books "
        "about distributed systems and large scale data processing engines "
        "that transform raw web pages into clean text corpora every single "
        "day with remarkable efficiency beyond expectation"
    ).split(),
    "fr": (
        "le renard brun saute par dessus le chien paresseux pendant que les "
        "systèmes répartis transforment des pages web brutes en corpus de "
        "texte propre chaque journée avec une efficacité réputée au-delà des "
        "espérances générales et précises déjà établies"
    ).split(),
    "de": (
        "der schnelle braune fuchs springt über den faulen hund während "
        "verteilte systeme rohe webseiten jeden tag mit bemerkenswerter "
        "effizienz in saubere textkorpora verwandeln und größere datenmengen "
        "zuverlässig verarbeiten können ohne mühe überhaupt"
    ).split(),
    "ar": (
        "الثعلب البني السريع يقفز فوق الكلب الكسول بينما تحول الأنظمة "
        "الموزعة صفحات الويب الخام إلى نصوص نظيفة كل يوم بكفاءة ملحوظة "
        "تفوق التوقعات العامة والدقيقة المعروفة"
    ).split(),
}
_LANGS = ["en", "fr", "de", "ar"]
_LANG_WEIGHTS = [0.55, 0.2, 0.15, 0.1]

_NAV_WORDS = "Home About News Contact Login Register Products Archive Tags Search Help Careers Blog Forum Docs".split()


def _host_pool(rng: random.Random, n: int = 50) -> list[str]:
    return [f"site{i:02d}.example.{rng.choice(['com', 'org', 'net'])}" for i in range(n)]


_ZIPF_CDF: dict[tuple[int, float], list[float]] = {}


def _zipf_host(rng: random.Random, hosts: list[str], s: float = 1.2) -> str:
    # Zipf(s) over ranks 1..n (deterministic inverse-CDF on rng.random());
    # the CDF depends only on (n, s) — cache it instead of recomputing 50
    # pows per call (once per pages AND corpus doc, 280k calls at bench)
    import bisect

    key = (len(hosts), s)
    cdf = _ZIPF_CDF.get(key)
    if cdf is None:
        acc, cdf = 0.0, []
        for r in range(1, len(hosts) + 1):
            acc += 1.0 / (r**s)
            cdf.append(acc)
        _ZIPF_CDF[key] = cdf
    x = rng.random() * cdf[-1]
    return hosts[min(bisect.bisect_left(cdf, x), len(hosts) - 1)]


def _sentence(rng: random.Random, lang: str, n_words: int) -> str:
    pool = _WORDS[lang]
    words = [rng.choice(pool) for _ in range(n_words)]
    # sprinkle characters that force entity-encoding in the HTML
    if rng.random() < 0.3:
        i = rng.randrange(len(words))
        words[i] = words[i] + rng.choice(["&co", "<x>", '"q"'])
    s = " ".join(words)
    return s[0].upper() + s[1:] + "."


def _paragraph(rng: random.Random, lang: str) -> str:
    n_sent = rng.randint(1, 4)
    return " ".join(_sentence(rng, lang, rng.randint(15, 40)) for _ in range(n_sent))


def _encode_text(rng: random.Random, text: str) -> str:
    """Paragraph text -> HTML text content: escape specials; sometimes use
    NFD or numeric charrefs to exercise N1/N4 on the way back."""
    if rng.random() < 0.25:
        text = unicodedata.normalize("NFD", text)
    out = html_mod.escape(text)
    if rng.random() < 0.2:
        # also numeric-charref-encode a handful of letters — but never a
        # character that is already part of an entity like &amp;
        import re as _re

        entity_pos = set()
        for m in _re.finditer(r"&[#a-zA-Z0-9]*;", out):
            entity_pos.update(range(m.start(), m.end()))
        chars = list(out)
        for _ in range(min(3, len(chars))):
            i = rng.randrange(len(chars))
            if i in entity_pos:
                continue
            c = chars[i]
            if c.isalpha():
                chars[i] = f"&#{ord(c)};"
                # indexes into `chars` are stable (we replace in place), and
                # entity_pos indexes refer to the original string — adding i
                # keeps later draws from double-encoding this slot
                entity_pos.add(i)
        out = "".join(chars)
    return out


def _main_block_html(rng: random.Random, text: str) -> str:
    """Wrap paragraph text, optionally linking ONE word (guarantee G1)."""
    enc = _encode_text(rng, text)
    if rng.random() < 0.3:
        words = enc.split(" ")
        if len(words) >= 20:
            i = rng.randrange(len(words))
            if "&" not in words[i] and "<" not in words[i]:
                words[i] = f'<a href="/l{rng.randrange(99)}">{words[i]}</a>'
                enc = " ".join(words)
    tag = rng.choice(["p", "p", "p", "div"])
    return f"<{tag}>{enc}</{tag}>"


def _nav_html(rng: random.Random) -> str:
    items = rng.sample(_NAV_WORDS, rng.randint(4, 8))
    lis = "".join(f'<li><a href="/{w.lower()}">{w}</a></li>' for w in items)
    return f"<nav><ul>{lis}</ul></nav>"


def _sidebar_html(rng: random.Random) -> str:
    items = [
        f'<a href="/t/{rng.randrange(999)}">{rng.choice(_NAV_WORDS)} {rng.randrange(99)}</a>'
        for _ in range(rng.randint(3, 7))
    ]
    return "<aside><div>" + "</div><div>".join(items) + "</div></aside>"


def _ad_html(rng: random.Random) -> str:
    return (
        f'<div class="ad"><a href="http://ads.example/{rng.randrange(9999)}">'
        f"{rng.choice(['Buy now', 'Sale', 'Click here', 'Sponsored'])}</a></div>"
    )


def _footer_html(rng: random.Random) -> str:
    links = " ".join(
        f'<a href="/{w.lower()}">{w}</a>' for w in rng.sample(_NAV_WORDS, 3)
    )
    return f'<footer><div>© 2025 {links}</div></footer>'


def _short_boiler(rng: random.Random) -> str:
    """<=2-word unlinked boilerplate (G2 first case)."""
    return f"<div>{rng.choice(['Menu', 'Share', 'Top', 'Advertisement', 'Loading'])}</div>"


def gen_corpus_doc(rng: random.Random, doc_id: int, hosts: list[str]) -> dict:
    """One already-extracted web-text document for the corpus-cleaning ops
    (PII redaction, cross-doc boilerplate-line removal, intra-doc line
    dedup, per-source mixture sampling).  Unlike ``pages``, there is no
    golden table: every op over this corpus is SQL-expressible, so the
    DuckDB oracle recomputes the answer from the same parquet — the
    generator only has to make the phenomena EXIST at known rates:

    - per-host boilerplate lines derived from the HOST NAME alone (not the
      rng), so every affected doc of a host carries byte-identical lines —
      cross-doc line frequency finds them;
    - planted PII (emails @host, +1 NNN-555-NNNN phones, dotted-quad IPs)
      in ~18/12/10%% of docs;
    - an intra-doc duplicated body line in ~25%% of docs;
    - blank separator lines (~30%%) and a few empty docs (~1%%).
    """
    host = _zipf_host(rng, hosts)
    lang = rng.choices(_LANGS, weights=_LANG_WEIGHTS, k=1)[0]
    url = f"https://{host}/doc/{doc_id}"
    if rng.random() < 0.01:
        return {"doc_id": doc_id, "url": url, "host": host, "lang": lang, "text": ""}
    boiler = [
        f"(c) 2025 {host} - all rights reserved",
        f"Subscribe to the {host} newsletter",
        f"Follow {host} for daily updates",
    ]
    lines: list[str] = []
    if rng.random() < 0.85:
        lines.append(boiler[0])
    body = [
        _sentence(rng, lang, rng.randint(8, 25))
        for _ in range(rng.randint(4, 18))
    ]
    if rng.random() < 0.18:
        body.append(
            f"Contact us at user{rng.randrange(500):03d}@{host} for details."
        )
    if rng.random() < 0.12:
        body.append(
            f"Call +1 {rng.randrange(200, 999)}-555-{rng.randrange(0, 10000):04d} now."
        )
    if rng.random() < 0.10:
        body.append(
            "Served from "
            f"{rng.randrange(1, 255)}.{rng.randrange(0, 255)}"
            f".{rng.randrange(0, 255)}.{rng.randrange(1, 255)} cache."
        )
    if rng.random() < 0.25:
        body.insert(rng.randrange(len(body) + 1), rng.choice(body))
    if rng.random() < 0.30:
        body.insert(rng.randrange(len(body) + 1), "")
    lines += body
    if rng.random() < 0.80:
        lines.append(boiler[1])
    if rng.random() < 0.50:
        lines.append(boiler[2])
    return {
        "doc_id": doc_id,
        "url": url,
        "host": host,
        "lang": lang,
        "text": "\n".join(lines),
    }


def gen_pages_doc(rng: random.Random, doc_id: int, hosts: list[str]) -> dict:
    host = _zipf_host(rng, hosts)
    lang = rng.choices(_LANGS, weights=_LANG_WEIGHTS, k=1)[0]
    url = f"https://{host}/{rng.choice(['articles', 'posts', 'wiki', 'blog'])}/{doc_id}"
    patho = rng.random()
    main_paras: list[str] = []
    expect_error = False
    # the kernel's error CODE this doc must land on (html_extract taxonomy;
    # None = clean) — drives the extract_errors per-code histogram oracle
    expect_error_code: str | None = None

    head = f"<head><title>{rng.choice(_NAV_WORDS)}</title><style>.x{{color:red}}</style></head>"
    top = [_nav_html(rng)] + ([_ad_html(rng)] if rng.random() < 0.5 else [])
    side = [_sidebar_html(rng)] if rng.random() < 0.6 else []
    bottom = ([_short_boiler(rng)] if rng.random() < 0.4 else []) + [_footer_html(rng)]

    if patho < 0.01:  # empty payload: zero html BYTES -> EMPTY_INPUT
        return {
            "url": url,
            "warc_ts": EPOCH + timedelta(seconds=doc_id),
            "html": b"",
            "text": None,
            "lang": lang,
            "_golden_text": "",
            "_wet_text": None,
            "_spans": [],
            "_n_blocks": 0,
            "_expect_error": True,
            "_expect_error_code": "EMPTY_INPUT",
        }
    if patho < 0.025:  # empty body
        body_inner = ""
        expect_error = True
        expect_error_code = "NO_CONTENT"
    elif patho < 0.04:  # boilerplate-only
        body_inner = "".join(top + side + bottom)
        expect_error = True
        expect_error_code = "NO_CONTENT"
    else:
        n_main = rng.randint(1, 8)
        main_paras = [nfc(_paragraph(rng, lang)) for _ in range(n_main)]
        pieces = [_main_block_html(rng, t) for t in main_paras]
        # ~30% of docs: a bullet list inside the main content.  Items are
        # 3-8 words — too short to classify as MAIN on their own
        # (MAIN_MIN_WORDS=10), so recovering them byte-exactly PROVES the
        # block-fusion rule C2 (adjacent-to-main absorption) fires.
        if rng.random() < 0.3:
            items = [
                nfc(_sentence(rng, lang, rng.randint(3, 8)))
                for _ in range(rng.randint(2, 5))
            ]
            lis = "".join(f"<li>{_encode_text(rng, it)}</li>" for it in items)
            insert_at = rng.randint(1, len(pieces))  # always after a paragraph
            pieces.insert(insert_at, f"<ul>{lis}</ul>")
            main_paras[insert_at:insert_at] = items
        main_html = "".join(pieces)
        if patho < 0.05:  # deeply nested but normal
            depth = rng.randint(20, 50)
            main_html = "<div>" * depth + main_html + "</div>" * depth
        if patho < 0.06 and patho >= 0.05:  # malformed markup in boilerplate
            top.append("<div><span><b>Promo</div>")
        body_inner = "".join(top + [f"<article>{main_html}</article>"] + side + bottom)

    html_doc = f"<!DOCTYPE html><html>{head}<body>{body_inner}</body></html>"
    if 0.06 <= patho < 0.07 and main_paras:  # truncated inside the footer
        cut = html_doc.rfind("<footer>") + len("<footer><div>© 2")
        html_doc = html_doc[:cut]

    golden_text, spans = join_blocks(main_paras) if main_paras else ("", [])
    # the RAW crawl text is an adversary for the WET branch's N2+N4
    # normalization: exotic Unicode whitespace separators (NBSP, line/para
    # separators, ideographic space) and NFD-decomposed accents — a JVM
    # regexp collapse (\s+ is ASCII-only) or a skipped NFC would diverge
    # from the wet_text golden computed below
    raw_text, wet_text = None, None
    if rng.random() < 0.5:
        words = [w for p in main_paras for w in p.split()]
        if words:
            seps = (" ", "  ", "\u00a0", "\t", " \u2028", "\u2029 ", "\n", "\u3000")
            parts = [rng.choice(("", "\u00a0", "  ", "\t"))]
            for w in words:
                if rng.random() < 0.15:
                    w = unicodedata.normalize("NFD", w)
                parts.append(w)
                parts.append(rng.choice(seps))
            raw_text = "".join(parts)
            # N2 (str.split semantics) then N4 (NFC), generator-side
            wet_text = nfc(" ".join(raw_text.split()))

    return {
        "url": url,
        "warc_ts": EPOCH + timedelta(seconds=doc_id),
        "html": html_doc.encode("utf-8"),
        "text": raw_text,
        "lang": lang,
        "_golden_text": golden_text,
        "_wet_text": wet_text,
        "_spans": spans,
        "_n_blocks": len(main_paras),
        "_expect_error": expect_error,
        "_expect_error_code": expect_error_code,
    }


# ---------------------------------------------------------------------------
# glyph pages (layout branch)
# ---------------------------------------------------------------------------
GLYPH_W = 5.5
GLYPH_ADV = 6.0
GLYPH_H = 8.0
LINE_SP = 14.0
PARA_SP = 24.0
COL1 = (72.0, 288.0)
COL2 = (324.0, 540.0)
FULL = (72.0, 540.0)
BODY_TOP = 100.0
BODY_BOTTOM = 700.0


def _layout_lines(rng: random.Random, x_range: tuple[float, float], budget_lines: int, lang: str = "en") -> list[str]:
    """Generate wrapped text lines that fit the column width.  Latin-script
    languages only (fr/de words carry single-code-point accents that
    exercise the layout branch's non-ASCII path; RTL scripts are out of
    scope for the fixed left-to-right advance model)."""
    max_chars = int((x_range[1] - x_range[0]) / GLYPH_ADV)
    pool = _WORDS[lang]
    lines = []
    for _ in range(budget_lines):
        line_words: list[str] = []
        length = 0
        while True:
            w = rng.choice(pool)
            add = len(w) if not line_words else len(w) + 1
            if length + add > max_chars:
                break
            line_words.append(w)
            length += add
        lines.append(" ".join(line_words) if line_words else "x")
    return lines


def _emit_line_glyphs(line: str, x_start: float, baseline: float, rng: random.Random, out: list) -> None:
    x = x_start
    for c in line:
        if c == " ":
            x += GLYPH_ADV
            continue
        jit = (rng.random() - 0.5)  # ±0.5pt baseline jitter
        out.append((c, x, baseline + jit - GLYPH_H, x + GLYPH_W, baseline + jit))
        x += GLYPH_ADV


def gen_glyph_doc(rng: random.Random, doc_id: int) -> tuple[list, list]:
    """Returns (glyph_rows, golden_rows)."""
    glyph_rows: list[tuple] = []
    golden_rows: list[tuple] = []
    lang = rng.choice(["en", "en", "fr", "de"])  # latin scripts only (L-to-R)
    n_pages = rng.randint(1, 5)
    for page in range(1, n_pages + 1):
        two_col = rng.random() < 0.5
        glyphs: list[tuple] = []
        # header + footer (dropped by rule L1)
        _emit_line_glyphs(f"header {doc_id} {page}", 72.0, 50.0, rng, glyphs)
        _emit_line_glyphs(f"page {page}", 72.0, 760.0, rng, glyphs)
        page_lines: list[str] = []
        if two_col:
            for col in (COL1, COL2):
                n_lines = rng.randint(5, 18)
                col_lines = _layout_lines(rng, col, n_lines, lang)
                y = BODY_TOP
                for i, line in enumerate(col_lines):
                    if rng.random() < 0.12 and i > 0:
                        y += PARA_SP - LINE_SP  # paragraph gap
                    _emit_line_glyphs(line, col[0], y, rng, glyphs)
                    y += LINE_SP
                page_lines.extend(col_lines)
        else:
            n_lines = rng.randint(8, 30)
            col_lines = _layout_lines(rng, FULL, n_lines, lang)
            # ~25% of single-column pages: a figure (big vertical gap) with
            # a short caption line under it, mid-flow — the XY-cut must
            # keep the caption in reading order across the gap
            caption_at = (
                rng.randint(2, max(2, n_lines - 2)) if rng.random() < 0.25 and n_lines > 4 else None
            )
            y = BODY_TOP
            out_lines: list[str] = []
            for i, line in enumerate(col_lines):
                if rng.random() < 0.12 and i > 0:
                    y += PARA_SP - LINE_SP
                if caption_at is not None and i == caption_at:
                    # only place the figure if its caption still lands inside
                    # the body band — the kernel drops glyphs past FOOTER_Y,
                    # so an over-deep caption would break golden/kernel
                    # byte-identity (holds by construction, not seed luck)
                    if y + 40.0 + LINE_SP <= BODY_BOTTOM:
                        y += 40.0  # the figure: empty vertical band
                        cap = f"figure {rng.randint(1, 9)} caption text"
                        _emit_line_glyphs(cap, FULL[0], y, rng, glyphs)
                        out_lines.append(cap)
                        y += LINE_SP
                if y > BODY_BOTTOM:
                    break
                _emit_line_glyphs(line, FULL[0], y, rng, glyphs)
                out_lines.append(line)
                y += LINE_SP
            page_lines.extend(out_lines)
        golden_rows.append((doc_id, page, "\n".join(page_lines)))
        # shuffle emission order: reading order must be RECOVERED
        order = list(range(len(glyphs)))
        rng.shuffle(order)
        for gid, oi in enumerate(order):
            c, x0, y0, x1, y1 = glyphs[oi]
            glyph_rows.append((doc_id, page, gid, c, x0, y0, x1, y1))
    return glyph_rows, golden_rows


# ---------------------------------------------------------------------------
# PDF documents — engine A's BYTE layer (kernel: ocr_spark/functions/pdf.py,
# frozen contract P1-P8).  The generator COMPOSES files (objects, xref,
# content streams); the kernel tokenizes and parses them back — independent
# code paths.  Goldens derive from the generator's mirrored text-matrix
# arithmetic (its PARAMETERS), never from parsing.  The mirror reproduces
# the kernel's P7 expressions token for token so float results are
# bit-identical: every number written into the PDF is formatted with
# ``_pdf_num`` (repr round-trips exactly through the kernel's float()).
# ---------------------------------------------------------------------------
_PDF_SIZE = 10.0  # written as "10" -> kernel float(10) == 10.0

# independent copy of the public Helvetica AFM widths (1/1000 em); the
# kernel carries its own (functions/pdf.py HELVETICA_WIDTHS) and a pytest
# asserts the two copies agree so neither side drifts alone
_PDF_HELV_WIDTHS = {
    " ": 278, "!": 278, '"': 355, "#": 556, "$": 556, "%": 889, "&": 667,
    "'": 191, "(": 333, ")": 333, "*": 389, "+": 584, ",": 278, "-": 333,
    ".": 278, "/": 278, "0": 556, "1": 556, "2": 556, "3": 556, "4": 556,
    "5": 556, "6": 556, "7": 556, "8": 556, "9": 556, ":": 278, ";": 278,
    "<": 584, "=": 584, ">": 584, "?": 556, "@": 1015, "A": 667, "B": 667,
    "C": 722, "D": 722, "E": 667, "F": 611, "G": 778, "H": 722, "I": 278,
    "J": 500, "K": 667, "L": 556, "M": 833, "N": 722, "O": 778, "P": 667,
    "Q": 778, "R": 722, "S": 667, "T": 611, "U": 722, "V": 667, "W": 944,
    "X": 667, "Y": 667, "Z": 611, "[": 278, "\\": 278, "]": 278, "^": 469,
    "_": 556, "`": 333, "a": 556, "b": 556, "c": 500, "d": 556, "e": 556,
    "f": 278, "g": 556, "h": 556, "i": 222, "j": 222, "k": 500, "l": 222,
    "m": 833, "n": 556, "o": 556, "p": 556, "q": 556, "r": 333, "s": 500,
    "t": 278, "u": 556, "v": 500, "w": 722, "x": 500, "y": 500, "z": 500,
    "{": 334, "|": 260, "}": 334, "~": 584,
}


def _pdf_w(font: str, ch: str) -> int:
    """Width units for a char under the generator's font model."""
    if font.startswith("Courier"):
        return 600  # fixed pitch
    w = _PDF_HELV_WIDTHS.get(ch)
    if w is None:
        raise ValueError(f"generator emitted unsupported Helvetica char {ch!r}")
    return w


def _pdf_num(v: float) -> str:
    """Number -> PDF token whose float() parse is the same float (repr
    round-trips exactly; integral values print as ints)."""
    if v == int(v) and abs(v) < 1e15:
        return str(int(v))
    return repr(v)


def _pdf_lit(data: bytes, rng: random.Random) -> str:
    """Literal-string token with the mandatory escapes; non-ASCII and
    control bytes sometimes take the octal form to exercise the lexer."""
    out = ["("]
    for b in data:
        if b in (0x5C, 0x28, 0x29):
            out.append("\\" + chr(b))
        elif b < 0x20 or (b >= 0x80 and rng.random() < 0.5):
            out.append("\\%03o" % b)
        else:
            out.append(chr(b))
    out.append(")")
    return "".join(out)


def _pdf_string_token(text: str, rng: random.Random) -> str:
    """Encode a show string as literal or hex (10%)."""
    data = text.encode("cp1252")
    if rng.random() < 0.10:
        h = data.hex()
        return "<" + (h.upper() if rng.random() < 0.5 else h) + ">"
    return _pdf_lit(data, rng)


class _PdfPageRender:
    """Renders one page's positioned lines into content-stream ops while
    MIRRORING the kernel's P7 arithmetic to produce golden glyph boxes."""

    def __init__(self, rng: random.Random, font: str, mode: str, media_top: float):
        self.rng = rng
        self.font = font
        self.mode = mode  # td | tm | tstar
        self.media_top = media_top
        self.ops: list[str] = ["BT", f"/{ 'F1' if font.startswith('Courier') else 'F2' } {_pdf_num(_PDF_SIZE)} Tf"]
        self.glyphs: list[tuple] = []  # (ch, x0, y0, x1, y1)
        self.line_x = 0.0  # mirrored text line matrix (PDF space)
        self.line_y = 0.0
        self.leading = 0.0
        if mode == "tstar":
            self.ops.append(f"{_pdf_num(LINE_SP)} TL")
            self.leading = float(LINE_SP)
        if rng.random() < 0.3:  # benign graphics noise the kernel must skip
            self.ops.insert(0, "q 1 w 0 0 612 792 re W n Q")

    def _move_to(self, px: float, py: float) -> None:
        """Emit the positioning op for this mode; mirror exactly what the
        kernel will compute from the tokens written."""
        if self.mode == "tm":
            self.ops.append(f"1 0 0 1 {_pdf_num(px)} {_pdf_num(py)} Tm")
            self.line_x, self.line_y = px, py
            return
        if (
            self.mode == "tstar"
            and px == self.line_x
            and self.line_y - self.leading == py
        ):
            # plain next-line: T* (the show op itself may become ')
            self.ops.append("T*")
            self.line_y = self.line_y - self.leading
            return
        dx = px - self.line_x
        dy = py - self.line_y
        if self.rng.random() < 0.15:  # TD variant: also sets leading = -ty
            self.ops.append(f"{_pdf_num(dx)} {_pdf_num(dy)} TD")
            self.leading = -dy
        else:
            self.ops.append(f"{_pdf_num(dx)} {_pdf_num(dy)} Td")
        self.line_x = self.line_x + dx
        self.line_y = self.line_y + dy

    def line(self, x_start: float, baseline_topdown: float, text: str) -> None:
        """Position to (x_start, baseline) in top-down coords and show
        ``text``, mirroring glyph emission (P7)."""
        py = self.media_top - baseline_topdown
        pending_tstar = (
            self.mode == "tstar"
            and x_start == self.line_x
            and self.line_y - self.leading == py
        )
        self._move_to(float(x_start), py)
        x = self.line_x
        y = self.line_y
        size = _PDF_SIZE

        def mirror_show(chunk: str) -> None:
            nonlocal x
            for ch in chunk:
                w = _pdf_w(self.font, ch)
                adv = w * size / 1000.0  # kernel P7, same expression
                if ch != " ":
                    y_top = self.media_top - y
                    self.glyphs.append(
                        (ch, x, y_top - 0.8 * size, x + adv - 0.5, y_top)
                    )
                x = x + adv

        r = self.rng.random()
        if r < 0.20 and len(text) >= 6:
            # TJ with a kern splice inside a word: |t| <= 40 units keeps the
            # spliced gap within (0.1, 0.9) pt — far from SPACE_GAP (3.0)
            cand = [
                i
                for i in range(2, len(text) - 2)
                if text[i] != " " and text[i - 1] != " "
            ]
            if cand:
                i = self.rng.choice(cand)
                t = self.rng.choice([-40, -25, -10, 10, 25, 40])
                tok1 = _pdf_string_token(text[:i], self.rng)
                tok2 = _pdf_string_token(text[i:], self.rng)
                self.ops.append(f"[{tok1} {t} {tok2}] TJ")
                mirror_show(text[:i])
                x = x - float(t) * size / 1000.0  # kernel TJ adjust
                mirror_show(text[i:])
                return
        tok = _pdf_string_token(text, self.rng)
        if pending_tstar and self.ops and self.ops[-1] == "T*" and tok.startswith("(") and self.rng.random() < 0.5:
            self.ops.pop()  # ' == T* then show
            self.ops.append(f"{tok} '")
        else:
            self.ops.append(f"{tok} Tj")
        mirror_show(text)

    def content(self) -> bytes:
        return "\n".join(self.ops + ["ET"]).encode("latin-1")


def _pdf_wrap_lines(
    rng: random.Random, font: str, x_range: tuple[float, float], budget_lines: int, lang: str
) -> list[str]:
    """Width-aware line wrap (points, not chars — Helvetica is
    proportional).  1.5 pt slack absorbs TJ kern shifts so lines never
    cross the column edge."""
    budget = (x_range[1] - x_range[0]) - 1.5
    pool = _WORDS[lang]
    space_adv = _pdf_w(font, " ") * _PDF_SIZE / 1000.0
    lines = []
    for _ in range(budget_lines):
        words: list[str] = []
        used = 0.0
        while True:
            w = rng.choice(pool)
            w_adv = sum(_pdf_w(font, c) * _PDF_SIZE / 1000.0 for c in w)
            add = w_adv if not words else w_adv + space_adv
            if used + add > budget:
                break
            words.append(w)
            used += add
        lines.append(" ".join(words) if words else "x")
    return lines


_PDF_ERROR_KINDS = (
    "not_pdf", "bad_xref_truncated", "bad_xref_offset", "unsupported_filter",
    "bad_stream", "missing_font", "missing_width", "bad_content",
)
# what the kernel reports for each planted kind
_PDF_ERROR_CODE = {
    "not_pdf": "not_pdf",
    "bad_xref_truncated": "bad_xref",
    "bad_xref_offset": "bad_xref",
    "unsupported_filter": "unsupported_filter",
    "bad_stream": "bad_stream",
    "missing_font": "missing_font",
    "missing_width": "missing_width",
    "bad_content": "bad_content",
}


def _pdf_build_file(
    rng: random.Random,
    page_contents: list[bytes],
    *,
    inherited_attrs: bool,
    nested_tree: bool,
    bad_startxref: bool = False,
    filter_override: str | None = None,
    corrupt_flate: bool = False,
    stale_last_page: bytes | None = None,
    xref_stream: bool = False,
    use_objstm: bool = False,
    xref_predictor: bool = False,
) -> bytes:
    """Assemble a classic-xref PDF.  Object write order is shuffled (the
    xref table, not file order, locates objects); streams are Flate (50%)
    or raw; /Length is sometimes an indirect ref; /Contents is sometimes a
    2-stream array; /MediaBox + /Resources sit on the Pages node
    (inherited) or on each page.

    ``stale_last_page``: builds an INCREMENTAL UPDATE — the base file
    carries this content for the last page, then an appended section
    redefines that content object with ``page_contents[-1]``, adds a
    second xref listing only the changed object, and a trailer whose
    /Prev points at the base table.  The kernel (P2) must walk the chain
    newest-first, so the effective document shows the UPDATED content.

    ``xref_stream``: write a PDF-1.5 layout instead of the classic table —
    a /Type /XRef stream with [1 4 2] field widths, Flate-compressed,
    optionally PNG-Up-predicted (``xref_predictor``); with ``use_objstm``
    every non-stream object (catalog, page tree, fonts, page dicts,
    indirect lengths) is packed into a /Type /ObjStm and located by
    type-2 entries.  Mutually exclusive with ``stale_last_page``."""
    if xref_stream and stale_last_page is not None:
        raise ValueError("xref_stream and stale_last_page are mutually exclusive")
    objs: dict[int, bytes] = {}
    stream_nums: set[int] = set()  # objects that ARE streams (not packable)
    next_num = 5  # 1 catalog, 2 pages root, 3 F1 Courier, 4 F2 Helvetica

    def alloc() -> int:
        nonlocal next_num
        n = next_num
        next_num += 1
        return n

    def stream_obj(body: bytes, force_inline_len: bool = False) -> int:
        nonlocal next_num
        use_flate = filter_override is not None or corrupt_flate or rng.random() < 0.5
        extra = ""
        if filter_override is not None:
            data, extra = body, f" /Filter /{filter_override}"
        elif use_flate:
            data = zlib.compress(body)
            if corrupt_flate:
                data = b"\x00\x00" + data[2:]  # broken zlib header
            extra = " /Filter /FlateDecode"
        else:
            data = body
        num = alloc()
        if not force_inline_len and rng.random() < 0.2:
            # /Length as an indirect reference (never for the updated
            # object: its replacement carries a new length inline, and a
            # stale indirect length would mis-slice the new stream)
            len_num = alloc()
            objs[len_num] = str(len(data)).encode()
            ldict = f"<< /Length {len_num} 0 R{extra} >>"
        else:
            ldict = f"<< /Length {len(data)}{extra} >>"
        objs[num] = ldict.encode() + b"\nstream\n" + data + b"\nendstream"
        stream_nums.add(num)
        return num

    attrs = b" /MediaBox [0 0 612 792] /Resources << /Font << /F1 3 0 R /F2 4 0 R >> >>"
    page_nums = []
    last_content_num = None
    bodies = list(page_contents)
    if stale_last_page is not None:
        bodies[-1] = stale_last_page
    for pi, body in enumerate(bodies):
        is_update_target = stale_last_page is not None and pi == len(bodies) - 1
        nl = body.find(b"\n", len(body) // 2)
        if not is_update_target and rng.random() < 0.2 and 0 < nl < len(body) - 3:
            # /Contents as an array of two streams (joined by the kernel)
            c1 = stream_obj(body[:nl])
            c2 = stream_obj(body[nl + 1 :])
            contents = f"[{c1} 0 R {c2} 0 R]"
        else:
            cnum = stream_obj(body, force_inline_len=is_update_target)
            if is_update_target:
                last_content_num = cnum
            contents = f"{cnum} 0 R"
        pnum = alloc()
        page_attrs = b"" if inherited_attrs else attrs
        objs[pnum] = (
            f"<< /Type /Page /Parent 2 0 R /Contents {contents}".encode()
            + page_attrs
            + b" >>"
        )
        page_nums.append(pnum)
    kids = " ".join(f"{n} 0 R" for n in page_nums)
    root_attrs = attrs if inherited_attrs else b""
    if nested_tree and len(page_nums) > 1:
        inner = alloc()
        objs[inner] = (
            f"<< /Type /Pages /Kids [{kids}] /Count {len(page_nums)} >>".encode()
        )
        objs[2] = (
            f"<< /Type /Pages /Kids [{inner} 0 R] /Count {len(page_nums)}".encode()
            + root_attrs
            + b" >>"
        )
    else:
        objs[2] = (
            f"<< /Type /Pages /Kids [{kids}] /Count {len(page_nums)}".encode()
            + root_attrs
            + b" >>"
        )
    objs[1] = b"<< /Type /Catalog /Pages 2 0 R >>"
    objs[3] = b"<< /Type /Font /Subtype /Type1 /BaseFont /Courier /Encoding /WinAnsiEncoding >>"
    objs[4] = b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica /Encoding /WinAnsiEncoding >>"

    if xref_stream:
        return _assemble_xref_stream_pdf(rng, objs, stream_nums, alloc, use_objstm, xref_predictor)

    buf = bytearray(b"%PDF-1.4\n%\xe2\xe3\xcf\xd3\n")
    if rng.random() < 0.2:
        buf += b"% generator comment line\n"
    order = sorted(objs)
    rng.shuffle(order)
    offsets: dict[int, int] = {}
    for num in order:
        offsets[num] = len(buf)
        buf += f"{num} 0 obj\n".encode() + objs[num] + b"\nendobj\n"
    xref_off = len(buf)
    maxn = max(objs)
    buf += f"xref\n0 {maxn + 1}\n".encode()
    buf += b"0000000000 65535 f \n"
    for n in range(1, maxn + 1):
        buf += f"{offsets[n]:010d} 00000 n \n".encode()
    start = xref_off + 2 if bad_startxref else xref_off
    buf += (
        f"trailer\n<< /Size {maxn + 1} /Root 1 0 R >>\n"
        f"startxref\n{start}\n%%EOF"
    ).encode()
    if stale_last_page is not None:
        # incremental update: redefine the last page's content object with
        # the REAL content, new xref section, trailer /Prev -> base table
        upd_body = page_contents[-1]
        use_flate = rng.random() < 0.5
        data = zlib.compress(upd_body) if use_flate else upd_body
        extra = " /Filter /FlateDecode" if use_flate else ""
        buf += b"\n"
        upd_off = len(buf)
        buf += (
            f"{last_content_num} 0 obj\n<< /Length {len(data)}{extra} >>\nstream\n"
        ).encode() + data + b"\nendstream\nendobj\n"
        xref2 = len(buf)
        buf += (
            f"xref\n{last_content_num} 1\n{upd_off:010d} 00000 n \n"
            f"trailer\n<< /Size {maxn + 1} /Root 1 0 R /Prev {xref_off} >>\n"
            f"startxref\n{xref2}\n%%EOF"
        ).encode()
    return bytes(buf)


def _assemble_xref_stream_pdf(
    rng: random.Random,
    objs: dict[int, bytes],
    stream_nums: set[int],
    alloc,
    use_objstm: bool,
    xref_predictor: bool,
) -> bytes:
    """PDF-1.5 assembly: optional /ObjStm packing of every non-stream
    object, then a /Type /XRef stream (W [1 4 2], Flate, optional PNG-Up
    predictor) whose dict is the trailer.  Independent counterpart of the
    kernel's _parse_xref_stream/_get_from_objstm."""
    packed = sorted(n for n in objs if n not in stream_nums) if use_objstm else []
    objstm_num = alloc() if packed else None
    xref_num = alloc()

    buf = bytearray(b"%PDF-1.5\n%\xe2\xe3\xcf\xd3\n")
    if rng.random() < 0.2:
        buf += b"% generator comment line\n"
    offsets: dict[int, int] = {}
    order = [n for n in sorted(objs) if n not in packed]
    rng.shuffle(order)
    for num in order:
        offsets[num] = len(buf)
        buf += f"{num} 0 obj\n".encode() + objs[num] + b"\nendobj\n"

    packed_idx: dict[int, int] = {}
    if packed:
        # ObjStm: "n1 o1 n2 o2 ...\n" header, then the value tokens
        vals = [objs[n] for n in packed]
        offs, pos = [], 0
        for v in vals:
            offs.append(pos)
            pos += len(v) + 1  # one space separator keeps tokens apart
        header = (" ".join(f"{n} {o}" for n, o in zip(packed, offs)) + "\n").encode()
        body = header + b" ".join(vals) + b" "
        first = len(header)
        use_flate = rng.random() < 0.5
        data = zlib.compress(body) if use_flate else body
        extra = " /Filter /FlateDecode" if use_flate else ""
        offsets[objstm_num] = len(buf)
        buf += (
            f"{objstm_num} 0 obj\n<< /Type /ObjStm /N {len(packed)} "
            f"/First {first} /Length {len(data)}{extra} >>\nstream\n"
        ).encode() + data + b"\nendstream\nendobj\n"
        packed_idx = {n: i for i, n in enumerate(packed)}

    size = xref_num + 1
    xref_off = len(buf)
    rows = [(0, 0, 65535)]  # object 0: free head
    for n in range(1, size):
        if n in packed_idx:
            rows.append((2, objstm_num, packed_idx[n]))
        elif n == xref_num:
            rows.append((1, xref_off, 0))
        else:
            rows.append((1, offsets[n], 0))
    raw = b"".join(
        bytes([t]) + f2.to_bytes(4, "big") + f3.to_bytes(2, "big")
        for t, f2, f3 in rows
    )
    parms = ""
    if xref_predictor:
        # forward PNG filters per 7-byte row: Up (tag 2) mostly, None
        # (tag 0) sprinkled — the kernel must honor the per-row tag
        cols = 7
        out = bytearray()
        prior = bytes(cols)
        for i in range(0, len(raw), cols):
            cur = raw[i : i + cols]
            if rng.random() < 0.2:
                out += b"\x00" + cur
            else:
                out += b"\x02" + bytes((cur[j] - prior[j]) & 0xFF for j in range(cols))
            prior = cur
        raw = bytes(out)
        parms = " /DecodeParms << /Predictor 12 /Columns 7 >>"
    data = zlib.compress(raw)
    if rng.random() < 0.3 and size > 3:
        k = rng.randint(1, size - 2)
        index = f"[0 {k} {k} {size - k}]"
    else:
        index = f"[0 {size}]"
    buf += (
        f"{xref_num} 0 obj\n<< /Type /XRef /Size {size} /W [1 4 2] "
        f"/Index {index} /Root 1 0 R /Length {len(data)} "
        f"/Filter /FlateDecode{parms} >>\nstream\n"
    ).encode() + data + b"\nendstream\nendobj\n"
    buf += f"startxref\n{xref_off}\n%%EOF".encode()
    return bytes(buf)


def gen_pdf_doc(rng: random.Random, doc_id: int):
    """Returns (pdf_bytes, glyph_rows, text_rows, error).

    glyph_rows: (page, glyph_id, ch, x0, y0, x1, y1) — P8 doc-running ids;
    text_rows: (page, text) — the L1-L4 reading-order expectation (body
    lines only; header/footer fall to rule L1).  Error docs return
    ([], [], code) with the planted taxonomy code."""
    planted = rng.random() < 0.12
    kind = rng.choice(_PDF_ERROR_KINDS) if planted else None

    if kind == "not_pdf":
        n = rng.randint(40, 400)
        data = bytes(rng.randrange(256) for _ in range(n))
        if data.startswith(b"%PDF-"):
            data = b"\x00" + data[1:]
        return data, [], [], "not_pdf"

    font = rng.choice(["Courier", "Courier", "Helvetica"])
    lang = rng.choice(["en", "en", "fr", "de"]) if font == "Courier" else "en"
    mode = rng.choice(["td", "td", "tm", "tstar"])
    jitter = mode != "tstar"  # T* cannot express per-line jitter
    n_pages = 1 if planted else rng.randint(1, 4)

    contents: list[bytes] = []
    glyph_rows: list[tuple] = []
    text_rows: list[tuple] = []
    gid = 0
    for page in range(1, n_pages + 1):
        r = _PdfPageRender(rng, font, mode, media_top=792.0)
        jit = lambda: (rng.random() - 0.5) if jitter else 0.0  # noqa: E731
        r.line(72.0, 50.0 + jit(), f"header {doc_id} {page}")
        body_lines: list[str] = []
        if kind is not None:
            # one short valid line, then the planted violation
            r.line(72.0, BODY_TOP, "planted error document")
            if kind == "missing_font":
                r.ops.append("/F9 10 Tf")
                r.ops.append("(x) Tj")
            elif kind == "missing_width":
                r.ops = ["BT", "/F2 10 Tf", "72 680 Td", _pdf_lit("café".encode("cp1252"), rng) + " Tj"]
            elif kind == "bad_content":
                r.ops.append("100 Tz")
            contents.append(r.content())
            break
        two_col = rng.random() < 0.5
        if two_col:
            for col in (COL1, COL2):
                n_lines = rng.randint(5, 18)
                col_lines = _pdf_wrap_lines(rng, font, col, n_lines, lang)
                y = BODY_TOP
                for i, line in enumerate(col_lines):
                    if rng.random() < 0.12 and i > 0:
                        y += PARA_SP - LINE_SP
                    r.line(col[0], y + jit(), line)
                    y += LINE_SP
                body_lines.extend(col_lines)
        else:
            n_lines = rng.randint(8, 30)
            col_lines = _pdf_wrap_lines(rng, font, FULL, n_lines, lang)
            caption_at = (
                rng.randint(2, max(2, n_lines - 2))
                if rng.random() < 0.25 and n_lines > 4
                else None
            )
            y = BODY_TOP
            for i, line in enumerate(col_lines):
                if rng.random() < 0.12 and i > 0:
                    y += PARA_SP - LINE_SP
                if caption_at is not None and i == caption_at:
                    if y + 40.0 + LINE_SP <= BODY_BOTTOM:
                        y += 40.0
                        cap = f"figure {rng.randint(1, 9)} caption text"
                        r.line(FULL[0], y + jit(), cap)
                        body_lines.append(cap)
                        y += LINE_SP
                if y > BODY_BOTTOM:
                    break
                r.line(FULL[0], y + jit(), line)
                body_lines.append(line)
                y += LINE_SP
        r.line(72.0, 760.0 + jit(), f"page {page}")
        contents.append(r.content())
        text_rows.append((page, "\n".join(body_lines)))
        for ch, x0, y0, x1, y1 in r.glyphs:
            glyph_rows.append((page, gid, ch, x0, y0, x1, y1))
            gid += 1

    stale = None
    layout_roll = rng.random() if kind is None else 1.0
    if layout_roll < 0.15:
        # incremental-update variant: the base file carries a draft last
        # page; the appended update section holds the REAL content whose
        # glyphs the golden already mirrors — the kernel must walk /Prev
        draft = _PdfPageRender(rng, font, "td", media_top=792.0)
        draft.line(72.0, BODY_TOP, f"draft pending replacement {doc_id}")
        stale = draft.content()
    # PDF-1.5 layout slice: xref STREAM (optionally ObjStm-packed and
    # PNG-Up-predicted) — what most real-world PDFs use
    xrs = 0.15 <= layout_roll < 0.45
    pdf = _pdf_build_file(
        rng,
        contents,
        inherited_attrs=rng.random() < 0.5,
        nested_tree=rng.random() < 0.15,
        bad_startxref=kind == "bad_xref_offset",
        filter_override="LZWDecode" if kind == "unsupported_filter" else None,
        corrupt_flate=kind == "bad_stream",
        stale_last_page=stale,
        xref_stream=xrs,
        use_objstm=xrs and rng.random() < 0.6,
        xref_predictor=xrs and rng.random() < 0.5,
    )
    if kind == "bad_xref_truncated":
        pdf = pdf[: int(len(pdf) * 0.7)]
    if kind is not None:
        return pdf, [], [], _PDF_ERROR_CODE[kind]
    return pdf, glyph_rows, text_rows, None


# ---------------------------------------------------------------------------
# attendance docs (structured-field branch; reference pdf-data-schema.ts:5-17)
# ---------------------------------------------------------------------------
_FIRST = "Amina Youssef Sara Omar Lina Karim Nadia Hassan Leila Mehdi Rania Samir Aya Tarek Salma Walid".split()
_LAST = "Benali Haddad Mansour Farhat Khalil Saidi Touati Gharbi Amrani Chakir Lamrani Zeroual".split()

_TEMPLATES = [
    # (classe_lbl, cours_lbl, date_lbl, prof_lbl, nombre_lbl, salle_lbl, seance_lbl, sep, student_sep)
    ("Classe", "Cours", "Date", "Nom du Professeur", "Nombre des présents", "Salle N°", "Séance", ": ", ". "),
    ("CLASSE", "COURS", "DATE", "PROFESSEUR", "PRESENTS", "SALLE", "SEANCE", " - ", ") "),
    ("Classe", "Matière", "Le", "Enseignant", "Effectif présent", "Salle No", "Créneau", ": ", " - "),
    ("Class", "Module", "Date", "Prof", "Nombre de présents", "Salle N°", "Séance", " : ", ". "),
    ("classe", "cours", "date", "professeur", "présents", "salle", "séance", ": ", ") "),
]
# template 2 uses "PRESENTS"/"SEANCE" (unaccented variants in fields._LABELS)

_COURSES = ["Mathématiques", "Physique", "Chimie", "Informatique", "Français", "Histoire"]
_SEANCES = ["8h-10h", "10h-12h", "14h-16h", "16h-18h"]


def gen_attendance_doc(rng: random.Random, doc_id: int) -> tuple[dict, dict]:
    t = _TEMPLATES[rng.randrange(len(_TEMPLATES))]
    classe_lbl, cours_lbl, date_lbl, prof_lbl, nombre_lbl, salle_lbl, seance_lbl, sep, ssep = t
    url = f"https://sheets.example.org/attendance/{doc_id}"

    classe = f"{rng.choice('ABCD')}{rng.randint(1, 6)}"
    cours = rng.choice(_COURSES)
    date = f"{rng.randint(1, 28):02d}/{rng.randint(1, 12):02d}/2025"
    prof = f"{rng.choice(_FIRST)} {rng.choice(_LAST)}"
    salle = f"{rng.randint(100, 499)}"
    seance = rng.choice(_SEANCES)
    n_students = 0 if rng.random() < 0.10 else rng.randint(1, 12)
    students = [
        (str(i + 1), f"{rng.choice(_LAST)} {rng.choice(_FIRST)}") for i in range(n_students)
    ]
    declared = n_students
    if rng.random() < 0.15 and n_students:
        declared = max(0, n_students - rng.randint(1, 2))  # declared may disagree (A2)

    omit: set[str] = set()
    if rng.random() < 0.20:
        omit = set(rng.sample(["classe", "cours", "date", "prof", "salle", "seance", "nombre"],
                              rng.randint(1, 3)))

    # (line, schema_field, value) — field/value drive the golden span table
    tagged: list[tuple[str, str | None, str | None]] = [
        (f"Feuille de présence {doc_id}", None, None),
        ("", None, None),
    ]
    if "classe" not in omit:
        tagged.append((f"{classe_lbl}{sep}{classe}", "classe", classe))
    if "cours" not in omit:
        tagged.append((f"{cours_lbl}{sep}{cours}", "cours", cours))
    if "date" not in omit:
        tagged.append((f"{date_lbl}{sep}{date}", "date", date))
    if "prof" not in omit:
        tagged.append((f"{prof_lbl}{sep}{prof}", "nom_du_professeur", prof))
    if "salle" not in omit:
        tagged.append((f"{salle_lbl}{sep}{salle}", "salle_n", salle))
    if "seance" not in omit:
        tagged.append((f"{seance_lbl}{sep}{seance}", "séance", seance))
    if "nombre" not in omit:
        tagged.append((f"{nombre_lbl}{sep}{declared}", "nombre_des_présents", str(declared)))
    tagged.append(("", None, None))
    for n, name in students:
        tagged.append((f"{n}{ssep}{name}", None, None))
    lines = [t[0] for t in tagged]
    doc_text = "\n".join(lines)
    spans: list[tuple[str, int, int]] = []
    offset = 0
    for line, field, value in tagged:
        if field is not None:
            begin = offset + len(line) - len(value)
            spans.append((field, begin, begin + len(value)))
        offset += len(line) + 1

    golden = {
        "url": url,
        "_spans": spans,
        "classe": classe if "classe" not in omit else "",
        "cours": cours if "cours" not in omit else "",
        "date": date if "date" not in omit else "",
        "nom_du_professeur": prof if "prof" not in omit else "",
        "nombre_des_présents": declared if "nombre" not in omit else 0,
        "salle_n": salle if "salle" not in omit else "",
        "séance": seance if "seance" not in omit else "",
        "présences": [{"n": n, "nom_prénom": name} for n, name in students],
    }
    return {"url": url, "doc_text": doc_text}, golden


# ---------------------------------------------------------------------------
# parquet writers
# ---------------------------------------------------------------------------
_SPAN_PA = pa.list_(
    pa.struct([("field", pa.string()), ("begin", pa.int64()), ("end", pa.int64())])
)
_PRES_PA = pa.list_(pa.struct([("n", pa.string()), ("nom_prénom", pa.string())]))


def _write(path: str, table: pa.Table) -> None:
    # Row groups sized by ROW WIDTH, targeting ~1 MB of raw data per group:
    # wide rows (html pages, ~3 KB/row) get small groups so Spark's
    # byte-range file splitting yields real parallelism even on a single
    # fixture file, while skinny rows (glyph boxes, ~40 B/row) get large
    # groups — 256-row groups on a 23M-row glyph table meant ~90k groups
    # whose per-group footer/page overhead made the SCAN alone take ~2 min.
    n = table.num_rows
    avg_row = max(1, table.nbytes // max(n, 1))
    rows_per_group = min(max(256, (1 << 20) // avg_row), 1 << 17)
    pq.write_table(table, path, compression="zstd", row_group_size=rows_per_group)


def _write_page_aligned(path: str, table: pa.Table, target_bytes: int = 1 << 20) -> None:
    """Write the glyph table with row groups FLUSHED AT (doc_id, page)
    BOUNDARIES: a page never straddles a row group.  Parquet byte-range
    scan splits honor row-group boundaries, so every Spark task sees only
    WHOLE pages — the physical contract behind the layout branch's
    task-side scan (``layout_ops.glyphs_to_page_text_pyscan``).  Groups
    still target ~1 MB (the v15 lesson: group count drives scan cost),
    they just end on the next page edge."""
    import numpy as np

    d = table["doc_id"].to_numpy()
    p = table["page"].to_numpy()
    bounds = np.concatenate(
        (
            [0],
            np.flatnonzero((np.diff(d) != 0) | (np.diff(p) != 0)) + 1,
            [table.num_rows],
        )
    )
    avg_row = max(1, table.nbytes // max(table.num_rows, 1))
    rows_target = max(1, target_bytes // avg_row)
    with pq.ParquetWriter(path, table.schema, compression="zstd") as w:
        start = 0
        for b in bounds[1:].tolist():
            if b > start and (b - start >= rows_target or b == table.num_rows):
                w.write_table(table.slice(start, b - start), row_group_size=b - start)
                start = b


_I32, _I64, _F64 = pa.int32(), pa.int64(), pa.float64()
# (name, type) column lists shared by several tables; a None type is
# inferred from the values
_GLYPH_COLS = (
    ("doc_id", _I64), ("page", _I32), ("glyph_id", _I64), ("ch", None),
    ("x0", _F64), ("y0", _F64), ("x1", _F64), ("y1", _F64),
)
_PAGE_TEXT_COLS = (("doc_id", _I64), ("page", _I32), ("text", None))


def _typed_table(cols: tuple, rows: list, by_name: bool = False) -> pa.Table:
    """Rows -> a table of the declared (name, type) columns.  Rows are
    tuples in column order, or dicts keyed by column name (``by_name``)."""
    return pa.table(
        {
            name: pa.array([r[name if by_name else i] for r in rows], t)
            for i, (name, t) in enumerate(cols)
        }
    )


def _media_table(kind: str, content_type: str, goldens: list[dict], payloads: list) -> pa.Table:
    """One modality's binary media column: media_id/kind/payload/content_type."""
    n = len(goldens)
    return pa.table(
        {
            "media_id": pa.array([g["media_id"] for g in goldens], _I64),
            "kind": [kind] * n,
            "payload": pa.array(payloads, pa.binary()),
            "content_type": [content_type] * n,
        }
    )


def generate_tier(tier: str, out_dir: str, seed: int = SEED) -> dict:
    cfg = TIERS[tier]
    os.makedirs(out_dir, exist_ok=True)
    manifest = {"tier": tier, "seed": seed, "format_version": FORMAT_VERSION, **cfg}
    man_path = os.path.join(out_dir, "_MANIFEST.json")
    if os.path.exists(man_path):
        with open(man_path) as f:
            done = json.load(f)
        # a matching manifest only counts if the files it lists are
        # actually on disk (a partially-deleted tier must self-repair)
        listed = done.pop("files", [])
        if done == manifest and listed and all(
            os.path.exists(os.path.join(out_dir, e)) for e in listed
        ):
            return manifest  # already generated, identical config
    files: list[str] = []  # every file or directory written, for the manifest

    def out(name: str) -> str:
        files.append(name)
        return os.path.join(out_dir, name)

    # ---- pages ----------------------------------------------------------
    rng = random.Random(f"{seed}-pages-{tier}")
    hosts = _host_pool(random.Random(f"{seed}-hosts"))
    docs = [gen_pages_doc(rng, i, hosts) for i in range(cfg["pages"])]
    pages = pa.table(
        {
            "url": [d["url"] for d in docs],
            "warc_ts": pa.array([d["warc_ts"] for d in docs], pa.timestamp("us", tz="UTC")),
            "html": pa.array([d["html"] for d in docs], pa.binary()),
            "text": [d["text"] for d in docs],
            "lang": [d["lang"] for d in docs],
        }
    )
    _write(out("pages.parquet"), pages)
    golden = pa.table(
        {
            "url": [d["url"] for d in docs],
            "text": [d["_golden_text"] for d in docs],
            "spans": pa.array(
                [
                    [{"field": f, "begin": b, "end": e} for f, b, e in d["_spans"]]
                    for d in docs
                ],
                _SPAN_PA,
            ),
            "n_blocks": pa.array([d["_n_blocks"] for d in docs], pa.int32()),
            "expect_error": [d["_expect_error"] for d in docs],
            "expect_error_code": [d["_expect_error_code"] for d in docs],
            # N2+N4 of the ADVERSARIAL raw crawl text (NULL when the page
            # carries none) — the wet-branch golden
            "wet_text": [d["_wet_text"] for d in docs],
        }
    )
    _write(out("golden_pages.parquet"), golden)

    # ---- glyphs ---------------------------------------------------------
    if cfg["glyph_docs"]:
        rng = random.Random(f"{seed}-glyphs-{tier}")
        grows: list[tuple] = []
        gold: list[tuple] = []
        for d in range(cfg["glyph_docs"]):
            gr, go = gen_glyph_doc(rng, d)
            grows.extend(gr)
            gold.extend(go)
        _write_page_aligned(out("glyphs.parquet"), _typed_table(_GLYPH_COLS, grows))
        _write(out("golden_glyphs.parquet"), _typed_table(_PAGE_TEXT_COLS, gold))

    # ---- PDF documents (engine A byte layer) -----------------------------
    if cfg.get("pdf_docs"):
        rng = random.Random(f"{seed}-pdf-{tier}")
        pdf_payloads: list[bytes] = []
        pg_rows: list[tuple] = []  # (doc_id, page, glyph_id, ch, x0..y1)
        pt_rows: list[tuple] = []  # (doc_id, page, text)
        pe_rows: list[tuple] = []  # (doc_id, error|None)
        for d in range(cfg["pdf_docs"]):
            pdf, grows_, trows_, err = gen_pdf_doc(rng, d)
            pdf_payloads.append(pdf)
            pe_rows.append((d, err))
            for page, gid, ch, x0, y0, x1, y1 in grows_:
                pg_rows.append((d, page, gid, ch, x0, y0, x1, y1))
            for page, text in trows_:
                pt_rows.append((d, page, text))
        _write(
            out("pdf_docs.parquet"),
            pa.table(
                {
                    "doc_id": pa.array(range(cfg["pdf_docs"]), pa.int64()),
                    "pdf": pa.array(pdf_payloads, pa.binary()),
                }
            ),
        )
        _write(out("golden_pdf_glyphs.parquet"), _typed_table(_GLYPH_COLS, pg_rows))
        _write(out("golden_pdf_text.parquet"), _typed_table(_PAGE_TEXT_COLS, pt_rows))
        _write(
            out("golden_pdf_errors.parquet"),
            pa.table(
                {
                    "doc_id": pa.array([r[0] for r in pe_rows], pa.int64()),
                    "error": [r[1] for r in pe_rows],
                }
            ),
        )

    # ---- attendance -----------------------------------------------------
    if cfg["attendance"]:
        rng = random.Random(f"{seed}-attendance-{tier}")
        pairs = [gen_attendance_doc(rng, i) for i in range(cfg["attendance"])]
        adocs = pa.table(
            {
                "url": [p[0]["url"] for p in pairs],
                "doc_text": [p[0]["doc_text"] for p in pairs],
            }
        )
        _write(out("attendance_docs.parquet"), adocs)
        g = [p[1] for p in pairs]
        gold_att = pa.table(
            {
                "url": [x["url"] for x in g],
                "classe": [x["classe"] for x in g],
                "cours": [x["cours"] for x in g],
                "date": [x["date"] for x in g],
                "nom_du_professeur": [x["nom_du_professeur"] for x in g],
                "nombre_des_présents": pa.array(
                    [x["nombre_des_présents"] for x in g], pa.int64()
                ),
                "salle_n": [x["salle_n"] for x in g],
                "séance": [x["séance"] for x in g],
                "présences": pa.array([x["présences"] for x in g], _PRES_PA),
            }
        )
        _write(out("golden_attendance.parquet"), gold_att)
        srows = [(x["url"], f, b, e) for x in g for f, b, e in x["_spans"]]
        _write(
            out("golden_attendance_spans.parquet"),
            pa.table(
                {
                    "url": [r[0] for r in srows],
                    "span_field": [r[1] for r in srows],
                    "span_begin": pa.array([r[2] for r in srows], pa.int64()),
                    "span_end": pa.array([r[3] for r in srows], pa.int64()),
                }
            ),
        )
        # explode_outer expectation: one row per student; empty list -> one
        # row with "" fields (reference save-to-google-sheet.ts:199-215)
        rows = []
        for x in g:
            if x["présences"]:
                for s in x["présences"]:
                    rows.append((x["url"], s["n"], s["nom_prénom"]))
            else:
                rows.append((x["url"], "", ""))
        gold_rows = pa.table(
            {
                "url": [r[0] for r in rows],
                "n": [r[1] for r in rows],
                "nom_prénom": [r[2] for r in rows],
            }
        )
        _write(out("golden_attendance_rows.parquet"), gold_rows)

    # ---- attendance docs rendered as glyph pages (engine-A chain:
    #      layout OCR -> reading order -> field structuring) ---------------
    if cfg["attendance"]:
        rng = random.Random(f"{seed}-attglyph-{tier}")
        ag_rows: list[tuple] = []
        ag_map: list[tuple] = []
        for did, (doc, _g) in enumerate(pairs):
            ag_map.append((did, doc["url"]))
            # long sheets flow onto a second page (14 lines per page) —
            # the engine-A chain must reassemble pages in order
            doc_lines = doc["doc_text"].splitlines()
            page_chunks = [doc_lines[i : i + 14] for i in range(0, len(doc_lines), 14)]
            gid = 0
            for page_no, chunk in enumerate(page_chunks, start=1):
                glyphs: list[tuple] = []
                y = 100.0
                for line in chunk:
                    if line.strip():
                        _emit_line_glyphs(line, 72.0, y, rng, glyphs)
                    y += 12.0
                order = list(range(len(glyphs)))
                rng.shuffle(order)
                for oi in order:
                    c, x0, y0, x1, y1 = glyphs[oi]
                    ag_rows.append((did, page_no, gid, c, x0, y0, x1, y1))
                    gid += 1
        _write_page_aligned(out("attendance_glyphs.parquet"), _typed_table(_GLYPH_COLS, ag_rows))
        _write(
            out("attendance_glyph_docs.parquet"),
            pa.table(
                {
                    "doc_id": pa.array([m[0] for m in ag_map], pa.int64()),
                    "url": [m[1] for m in ag_map],
                }
            ),
        )

    # ---- attendance docs rendered as PDF FILES (the reference's actual
    #      workflow: upload PDF -> OCR -> structured fields; engine-A chain
    #      from raw bytes) -------------------------------------------------
    if cfg["attendance"]:
        rng = random.Random(f"{seed}-attpdf-{tier}")
        ap_rows: list[tuple] = []
        for did, (doc, _g) in enumerate(pairs):
            doc_lines = doc["doc_text"].splitlines()
            page_chunks = [doc_lines[i : i + 14] for i in range(0, len(doc_lines), 14)]
            contents = []
            for chunk in page_chunks:
                r = _PdfPageRender(rng, "Courier", "td", media_top=792.0)
                y = 100.0
                for line in chunk:
                    if line.strip():
                        r.line(72.0, y + (rng.random() - 0.5), line)
                    y += 12.0
                contents.append(r.content())
            pdf = _pdf_build_file(
                rng, contents, inherited_attrs=True, nested_tree=False
            )
            ap_rows.append((did, doc["url"], pdf))
        _write(
            out("attendance_pdfs.parquet"),
            pa.table(
                {
                    "doc_id": pa.array([r[0] for r in ap_rows], pa.int64()),
                    "url": [r[1] for r in ap_rows],
                    "pdf": pa.array([r[2] for r in ap_rows], pa.binary()),
                }
            ),
        )

    # ---- WARC container files (same docs, Common-Crawl container form) --
    if cfg.get("warc_files"):
        warc_dir = out("warc")
        os.makedirs(warc_dir, exist_ok=True)
        rng = random.Random(f"{seed}-warc-{tier}")
        shards: list[list[dict]] = [[] for _ in range(cfg["warc_files"])]
        for i, d in enumerate(docs):
            shards[i % cfg["warc_files"]].append(d)
        for si, shard in enumerate(shards):
            buf = bytearray()
            buf += _warc_record(
                b"warcinfo", None, None, b"software: ocr-spark-fixture-gen\r\n"
            )
            for d in shard:
                ts = d["warc_ts"].strftime("%Y-%m-%dT%H:%M:%SZ").encode()
                http = (
                    b"HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n\r\n"
                    + d["html"]
                )
                if rng.random() < 0.3:  # request records must be skipped
                    buf += _warc_record(
                        b"request", d["url"].encode(), ts, b"GET / HTTP/1.1\r\n\r\n"
                    )
                if rng.random() < 0.2:  # garbage BETWEEN records, with a
                    # false 'WARC/' magic bait whose header never parses —
                    # the reader must resync twice (junk line, then the
                    # bait's missing content-length) without losing the
                    # next real record
                    buf += b"GARBAGE-NOT-A-RECORD\r\n\r\nWARC/oops\r\n\r\n"
                buf += _warc_record(b"response", d["url"].encode(), ts, http)
            if rng.random() < 0.5:  # trailing junk after the last record
                buf += b"\r\nGARBAGE-NOT-A-RECORD"
            import gzip as _gzip

            with open(os.path.join(warc_dir, f"part-{si:03d}.warc.gz"), "wb") as f:
                f.write(_gzip.compress(bytes(buf), mtime=0))

        # WET sidecar: the SAME documents as conversion records carrying the
        # pre-extracted plain text (Common Crawl's .wet companion files) —
        # read back by sources.warc.read_wet; the container round trip must
        # preserve the text byte-for-byte (wet_roundtrip oracle)
        import gzip as _gzip

        wet_dir = out("wet")
        os.makedirs(wet_dir, exist_ok=True)
        for si, shard in enumerate(shards):
            buf = bytearray()
            buf += _warc_record(
                b"warcinfo", None, None, b"software: ocr-spark-fixture-gen-wet\r\n"
            )
            for d in shard:
                ts = d["warc_ts"].strftime("%Y-%m-%dT%H:%M:%SZ").encode()
                if rng.random() < 0.2:  # non-conversion records must be skipped
                    buf += _warc_record(
                        b"metadata", d["url"].encode(), ts, b"fetch: ok\r\n"
                    )
                if d["text"] is None:  # unextractable page: no WET record
                    continue
                buf += _warc_record(
                    b"conversion", d["url"].encode(), ts, d["text"].encode("utf-8")
                )
            with open(os.path.join(wet_dir, f"part-{si:03d}.wet.gz"), "wb") as f:
                f.write(_gzip.compress(bytes(buf), mtime=0))

    # ---- audio (binary media column + parameter-derived golden) ---------
    if cfg.get("audio"):
        rng = random.Random(f"{seed}-audio-{tier}")
        payloads, goldens = [], []
        for mid in range(cfg["audio"]):
            p, g = gen_audio_doc(rng, mid)
            payloads.append(p)
            goldens.append(g)
        _write(out("audio.parquet"), _media_table("audio", "audio/wav", goldens, payloads))
        cols = (
            ("media_id", _I64), ("n_channels", _I32), ("sample_rate", _I32),
            ("bits_per_sample", _I32), ("n_frames", _I64), ("duration_s", _F64),
            ("sha256", None), ("error", None), ("peak_abs", _I64), ("sumsq", _I64),
        )
        _write(out("golden_audio.parquet"), _typed_table(cols, goldens, by_name=True))

    # ---- video (ISO-BMFF binary column + parameter-derived golden) ------
    if cfg.get("video"):
        rng = random.Random(f"{seed}-video-{tier}")
        payloads, goldens, frame_rows, pixel_rows = [], [], [], []
        for mid in range(cfg["video"]):
            p, g, fr, px = gen_video_doc(rng, mid)
            payloads.append(p)
            goldens.append(g)
            frame_rows.extend(fr)
            pixel_rows.extend(px)
        _write(out("video.parquet"), _media_table("video", "video/mp4", goldens, payloads))
        cols = (
            ("media_id", _I64), ("major_brand", None), ("timescale", _I64),
            ("duration_units", _I64), ("duration_s", _F64), ("sha256", None),
            ("error", None),
        )
        _write(out("golden_video.parquet"), _typed_table(cols, goldens, by_name=True))
        cols = (
            ("media_id", _I64), ("frame_idx", _I64), ("pts_units", _I64),
            ("pts_s", _F64), ("byte_offset", _I64), ("n_bytes", _I64),
            ("frame_sha256", None), ("error", None),
        )
        _write(out("golden_frames.parquet"), _typed_table(cols, frame_rows, by_name=True))
        cols = (
            ("media_id", _I64), ("frame_idx", _I64), ("width", _I32), ("height", _I32),
            ("pixel_sha256", None), ("mean_r", _I64), ("mean_g", _I64),
            ("mean_b", _I64), ("error", None),
        )
        _write(
            out("golden_frame_pixels.parquet"), _typed_table(cols, pixel_rows, by_name=True)
        )

    # ---- image (PNG binary column + parameter-derived golden) -----------
    if cfg.get("image"):
        rng = random.Random(f"{seed}-image-{tier}")
        payloads, goldens = [], []
        for mid in range(cfg["image"]):
            p, g = gen_image_doc(rng, mid)
            payloads.append(p)
            goldens.append(g)
        _write(out("image.parquet"), _media_table("image", "image/png", goldens, payloads))
        cols = (
            ("media_id", _I64), ("width", _I32), ("height", _I32), ("n_channels", _I32),
            ("sha256", None), ("pixel_sha256", None), ("error", None),
            ("resized_sha256", None),
        )
        _write(out("golden_image.parquet"), _typed_table(cols, goldens, by_name=True))

    # ---- corpus (extracted web text for the cleaning ops) ---------------
    if cfg.get("corpus"):
        rng = random.Random(f"{seed}-corpus-{tier}")
        chosts = _host_pool(random.Random(f"{seed}-corpus-hosts"), 40)
        cdocs = [gen_corpus_doc(rng, i, chosts) for i in range(cfg["corpus"])]
        _write(
            out("corpus.parquet"),
            pa.table(
                {
                    "doc_id": pa.array([d["doc_id"] for d in cdocs], pa.int64()),
                    "url": [d["url"] for d in cdocs],
                    "host": [d["host"] for d in cdocs],
                    "lang": [d["lang"] for d in cdocs],
                    "text": [d["text"] for d in cdocs],
                }
            ),
        )

    with open(man_path, "w") as f:
        json.dump({**manifest, "files": files}, f)
    return manifest


# ---------------------------------------------------------------------------
# audio fixtures — real WAV bytes via the STDLIB `wave` writer; the kernel
# (ocr_spark.operators.multimodal._wav_decode) parses RIFF manually, so the
# two sides share no code.  Goldens are computed from the generator's
# PARAMETERS (channels/rate/frames), never by parsing the bytes.
# ---------------------------------------------------------------------------
_WAV_RATES = (8000, 16000, 22050, 44100)


def _pcm_stats(pcm: bytes, sampwidth: int, n_frames: int, block_align: int) -> tuple[int, int]:
    """Frozen audio-feature spec, GENERATOR side (kernel counterpart:
    multimodal._wav_features via numpy — independent code paths): centered
    samples (8-bit unsigned - 128; 16-bit signed LE), peak |centered| and
    exact-integer sum of squares over complete frames only."""
    import struct as _struct

    data = pcm[: n_frames * block_align]
    peak = 0
    sumsq = 0
    if sampwidth == 1:
        for (b,) in _struct.iter_unpack("<B", data):
            c = b - 128
            a = -c if c < 0 else c
            if a > peak:
                peak = a
            sumsq += c * c
    else:
        for (s,) in _struct.iter_unpack("<h", data):
            a = -s if s < 0 else s
            if a > peak:
                peak = a
            sumsq += s * s
    return peak, sumsq


def _nn_resize_py(pixels: bytes, w: int, h: int, ch: int, t: int = 16) -> bytes:
    """Frozen NN-resize spec, GENERATOR side (kernel counterpart:
    multimodal._nn_resize via numpy fancy indexing): src = (dst * src_dim)
    // t, per-pixel Python loops over the pre-filter buffer."""
    out = bytearray()
    stride = w * ch
    for y in range(t):
        sy = (y * h) // t
        for x in range(t):
            sx = (x * w) // t
            off = sy * stride + sx * ch
            out += pixels[off : off + ch]
    return bytes(out)


def gen_audio_doc(rng: random.Random, media_id: int) -> tuple[bytes | None, dict]:
    """Returns (payload, golden-metadata dict).  ~70% valid PCM WAVs; the
    rest exercise the per-row error taxonomy: non-PCM codec (patched format
    code), truncated data, header-cut, garbage, empty/null."""
    import hashlib
    import io
    import struct
    import wave

    def zeros(err: str, sha: str = "") -> dict:
        return {
            "media_id": media_id, "n_channels": 0, "sample_rate": 0,
            "bits_per_sample": 0, "n_frames": 0, "duration_s": 0.0,
            "sha256": sha, "error": err, "peak_abs": 0, "sumsq": 0,
        }

    roll = rng.random()
    if roll < 0.04:
        return None, zeros("EMPTY_INPUT")
    if roll < 0.08:
        return b"", zeros("EMPTY_INPUT")
    if roll < 0.13:
        junk = b"JUNK" + bytes(rng.getrandbits(8) for _ in range(rng.randint(8, 64)))
        return junk, zeros("NOT_RIFF", hashlib.sha256(junk).hexdigest())

    ch = rng.choice((1, 2))
    rate = rng.choice(_WAV_RATES)
    sampwidth = rng.choice((1, 2))
    frames = rng.randint(50, 4000)
    block_align = ch * sampwidth
    pcm = bytes(rng.getrandbits(8) for _ in range(frames * block_align))
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(ch)
        w.setsampwidth(sampwidth)
        w.setframerate(rate)
        w.writeframes(pcm)
    payload = buf.getvalue()  # canonical 44-byte header + data
    peak, sumsq = _pcm_stats(pcm, sampwidth, frames, block_align)
    base = {
        "media_id": media_id, "n_channels": ch, "sample_rate": rate,
        "bits_per_sample": sampwidth * 8, "n_frames": frames,
        "duration_s": round(frames / rate, 6), "sha256": "", "error": None,
        "peak_abs": peak, "sumsq": sumsq,
    }
    if roll < 0.2:  # non-PCM codec: patch the fmt audio-format code (85=MP3)
        p = bytearray(payload)
        p[20:22] = struct.pack("<H", 85)
        payload = bytes(p)
        base.update(
            n_frames=0, duration_s=0.0, error="UNSUPPORTED_CODEC",
            peak_abs=0, sumsq=0,
        )
    elif roll < 0.26:  # data chunk cut in half mid-stream
        data_size = frames * block_align
        payload = payload[: 44 + data_size // 2]
        avail_frames = (data_size // 2) // block_align
        peak, sumsq = _pcm_stats(pcm, sampwidth, avail_frames, block_align)
        base.update(
            n_frames=avail_frames,
            duration_s=round(avail_frames / rate, 6),
            error="TRUNCATED",
            peak_abs=peak, sumsq=sumsq,
        )
    elif roll < 0.3:  # cut inside the header: fmt never parses
        payload = payload[:16]
        z = zeros("NO_FMT")
        z["sha256"] = hashlib.sha256(payload).hexdigest()
        return payload, z
    base["sha256"] = hashlib.sha256(payload).hexdigest()
    return payload, base


# ---------------------------------------------------------------------------
# video fixtures — minimal ISO-BMFF (MP4) files built box-by-box from
# PARAMETERS; the kernel (multimodal._mp4_decode) walks the box tree
# independently.  Goldens derive from the parameters, never from parsing.
# ---------------------------------------------------------------------------
def _box(btype: bytes, payload: bytes) -> bytes:
    import struct

    return struct.pack(">I", 8 + len(payload)) + btype + payload


def _mvhd(version: int, timescale: int, duration: int) -> bytes:
    import struct

    if version == 0:
        body = struct.pack(">BxxxIIII", 0, 0, 0, timescale, duration)
    else:
        body = struct.pack(">BxxxQQIQ", 1, 0, 0, timescale, duration)
    # rate, volume+reserved, matrix, predefined, next_track_id (inert tail)
    body += struct.pack(">IHH", 0x00010000, 0x0100, 0) + b"\0" * 8
    body += struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
    body += b"\0" * 24 + struct.pack(">I", 2)
    return _box(b"mvhd", body)


FRAME_SAMPLE_EVERY_N = 5  # frozen sampling stride shared by the frame golden
# and the driver's `frame_sample` query — change both together.


def _visual_sample_entry(fourcc: bytes, w: int, h: int, depth: int = 24) -> bytes:
    """A full 78-byte ISO-BMFF VisualSampleEntry (spec 12.1.3): reserved(6),
    data_ref_index(2), pre_defined/reserved(16), width(2), height(2),
    resolutions(8), reserved(4), frame_count(2), compressorname(32),
    depth(2), pre_defined(2=-1).  The kernel
    (multimodal._mp4_visual_entry) re-parses this layout independently."""
    import struct

    body = (
        b"\0" * 6
        + struct.pack(">H", 1)
        + b"\0" * 16
        + struct.pack(">HH", w, h)
        + struct.pack(">II", 0x00480000, 0x00480000)
        + b"\0" * 4
        + struct.pack(">H", 1)
        + b"\0" * 32
        + struct.pack(">Hh", depth, -1)
    )
    return _box(fourcc, body)


def _video_track(
    timescale: int,
    stts_runs: list[tuple[int, int]],
    stsc_entries: list[tuple[int, int]],
    sizes: list[int],
    chunk_offsets: list[int],
    stsz_extra: int = 0,
    drop_stco: bool = False,
    sample_entry: bytes | None = None,
) -> bytes:
    """A moov/trak subtree carrying a REAL sample table
    (mdia/{mdhd,hdlr,minf/stbl/{stsd,stts,stsc,stsz,stco}}).  stts_runs =
    [(sample_count, delta_units)], stsc_entries = [(first_chunk,
    samples_per_chunk)] (1-based, desc id fixed at 1), chunk_offsets =
    absolute FILE offsets (mdat must already be laid out).  stsz_extra
    writes that many bogus extra size entries (count-mismatch fault
    injection); drop_stco omits the chunk-offset box entirely."""
    import struct

    duration = sum(c * d for c, d in stts_runs)
    mdhd = _box(b"mdhd", struct.pack(">BxxxIIIIHH", 0, 0, 0, timescale, duration, 0x55C4, 0))
    hdlr = _box(b"hdlr", b"\0" * 8 + b"vide" + b"\0" * 12 + b"\0")
    stsd = _box(
        b"stsd",
        struct.pack(">BxxxI", 0, 1)
        + (sample_entry if sample_entry is not None else _box(b"mp4v", b"\0" * 8)),
    )
    stts = _box(
        b"stts",
        struct.pack(">BxxxI", 0, len(stts_runs))
        + b"".join(struct.pack(">II", c, d) for c, d in stts_runs),
    )
    stsc = _box(
        b"stsc",
        struct.pack(">BxxxI", 0, len(stsc_entries))
        + b"".join(struct.pack(">III", fc, spc, 1) for fc, spc in stsc_entries),
    )
    stsz = _box(
        b"stsz",
        struct.pack(">BxxxII", 0, 0, len(sizes) + stsz_extra)
        + b"".join(struct.pack(">I", s) for s in sizes)
        + struct.pack(">I", 16) * stsz_extra,
    )
    stco = _box(
        b"stco",
        struct.pack(">BxxxI", 0, len(chunk_offsets))
        + b"".join(struct.pack(">I", o) for o in chunk_offsets),
    )
    stbl = _box(b"stbl", stsd + stts + stsc + stsz + (b"" if drop_stco else stco))
    return _box(b"trak", _box(b"mdia", mdhd + hdlr + _box(b"minf", stbl)))


def gen_video_doc(
    rng: random.Random, media_id: int
) -> tuple[bytes | None, dict, list[dict], list[dict]]:
    """Returns (payload, golden-metadata dict, golden-frame rows,
    golden-frame-PIXEL rows): ~62% well-formed MP4s (ftyp + mdat +
    moov/{mvhd,trak}) whose trak carries a REAL sample table over real
    frame bytes in mdat; the rest exercise the container and sample-table
    error taxonomies.  Frame goldens (pts from the stts runs, byte offsets
    from the chunk layout, sha256 of the frame bytes) derive from layout
    ARITHMETIC the generator performed — never from parsing the payload
    back.  Half the good tracks are RAW RGB24 (stsd VisualSampleEntry
    fourcc 'raw '): each frame is width*height*3 interleaved channel
    bytes, so the pixel goldens (sha + integer channel means over the
    generator's own pixel buffers) prove a real codec-free pixel decode —
    the declared codec boundary shrinks to genuinely-compressed
    bitstreams (fourcc 'mp4v' tracks golden to UNSUPPORTED_CODEC)."""
    import hashlib

    def zeros(err: str, sha: str = "") -> dict:
        return {
            "media_id": media_id, "major_brand": "", "timescale": 0,
            "duration_units": 0, "duration_s": 0.0, "sha256": sha, "error": err,
        }

    def noframes(err: str) -> list[dict]:
        return [{
            "media_id": media_id, "frame_idx": -1, "pts_units": 0,
            "pts_s": 0.0, "byte_offset": -1, "n_bytes": -1,
            "frame_sha256": "", "error": err,
        }]

    def nopix(err: str) -> list[dict]:
        return [{
            "media_id": media_id, "frame_idx": -1, "width": 0, "height": 0,
            "pixel_sha256": "", "mean_r": 0, "mean_g": 0, "mean_b": 0,
            "error": err,
        }]

    roll = rng.random()
    if roll < 0.06:
        return (
            (None if roll < 0.03 else b""),
            zeros("EMPTY_INPUT"),
            noframes("EMPTY_INPUT"),
            nopix("EMPTY_INPUT"),
        )
    if roll < 0.12:
        junk = b"XXXX" + bytes(rng.getrandbits(8) for _ in range(rng.randint(8, 64)))
        sha = hashlib.sha256(junk).hexdigest()
        return junk, zeros("NOT_MP4", sha), noframes("NOT_MP4"), nopix("NOT_MP4")

    timescale = rng.choice((600, 1000, 90000))
    duration = rng.randint(1, 10 * timescale)  # up to ~10 s
    version = rng.choice((0, 1))
    ftyp = _box(b"ftyp", b"isom" + b"\0\0\0\1" + b"mp42")
    free = _box(b"free", b"\0" * rng.randint(0, 16))  # skipped boxes exist
    # past this point ftyp parses, so the brand is reported even when a
    # LATER stage fails (the parser keeps everything it validly read)
    if roll < 0.18:  # moov entirely absent
        mdat = _box(b"mdat", bytes(rng.getrandbits(8) for _ in range(rng.randint(16, 256))))
        payload = ftyp + free + mdat
        z = zeros("NO_MOOV")
        z.update(major_brand="isom", sha256=hashlib.sha256(payload).hexdigest())
        return payload, z, noframes("NO_MOOV"), nopix("NO_MOOV")
    if roll < 0.24:  # moov present but carries neither mvhd nor trak
        mdat = _box(b"mdat", bytes(rng.getrandbits(8) for _ in range(rng.randint(16, 256))))
        payload = ftyp + _box(b"moov", _box(b"udta", b"\0" * 8)) + mdat
        z = zeros("NO_MVHD")
        z.update(major_brand="isom", sha256=hashlib.sha256(payload).hexdigest())
        return payload, z, noframes("NO_TRAK"), nopix("NO_TRAK")

    # real frame data: sizes, bytes, two stts duration runs, m chunks of c1
    # frames plus one tail chunk (stsc cannot express a short last run)
    media_ts = rng.choice((600, 1000, 12288, 30000))
    n = rng.randint(6, 48)
    raw_track = rng.random() < 0.5  # codec-free RGB24 vs opaque 'mp4v'
    if raw_track:
        vw, vh = rng.randint(4, 12), rng.randint(4, 10)
        sizes = [vw * vh * 3] * n
    else:
        vw = vh = 0
        sizes = [rng.randint(8, 64) for _ in range(n)]
    frames = [bytes(rng.getrandbits(8) for _ in range(s)) for s in sizes]
    k = rng.randint(1, n - 1)
    d1, d2 = rng.randint(20, 4000), rng.randint(20, 4000)
    stts_runs = [(k, d1), (n - k, d2)]
    c1 = rng.randint(1, 4)
    m = rng.randint(1, max(1, (n - 1) // c1))
    tail = n - m * c1  # >= 1 by construction of m
    stsc_entries = [(1, c1), (m + 1, tail)]
    chunk_frame_counts = [c1] * m + [tail]
    mdat = _box(b"mdat", b"".join(frames))
    base = len(ftyp) + len(free) + 8  # mdat BODY file offset (mdat precedes moov)
    chunk_offsets, offsets = [], []
    pos, fi = base, 0
    for cfc in chunk_frame_counts:
        chunk_offsets.append(pos)
        for _ in range(cfc):
            offsets.append(pos)
            pos += sizes[fi]
            fi += 1
    drop_stco = 0.30 <= roll < 0.34
    stsz_extra = 2 if 0.34 <= roll < 0.38 else 0
    trak = _video_track(
        media_ts, stts_runs, stsc_entries, sizes, chunk_offsets,
        stsz_extra=stsz_extra, drop_stco=drop_stco,
        sample_entry=_visual_sample_entry(b"raw ", vw, vh) if raw_track else None,
    )
    moov = _box(b"moov", _mvhd(version, timescale, duration) + trak + _box(b"udta", b"\0" * 4))
    payload = ftyp + free + mdat + moov
    if roll < 0.3:  # cut inside the mvhd fields
        payload = payload[: len(ftyp) + len(free) + len(mdat) + 8 + 16]
        z = zeros("TRUNCATED")
        z.update(major_brand="isom", sha256=hashlib.sha256(payload).hexdigest())
        # the truncated moov yields a clamped partial mvhd and nothing else,
        # so the frame-table walk reports the missing trak
        return payload, z, noframes("NO_TRAK"), nopix("NO_TRAK")
    meta = {
        "media_id": media_id,
        "major_brand": "isom",
        "timescale": timescale,
        "duration_units": duration,
        "duration_s": round(duration / timescale, 6),
        "sha256": hashlib.sha256(payload).hexdigest(),
        "error": None,
    }
    if drop_stco:
        return payload, meta, noframes("NO_SAMPLE_TABLE"), nopix("NO_SAMPLE_TABLE")
    if stsz_extra:
        return payload, meta, noframes("BAD_SAMPLE_TABLE"), nopix("BAD_SAMPLE_TABLE")
    frame_rows = []
    pix_rows = []
    for idx in range(0, n, FRAME_SAMPLE_EVERY_N):
        pts = idx * d1 if idx < k else k * d1 + (idx - k) * d2
        frame_rows.append({
            "media_id": media_id,
            "frame_idx": idx,
            "pts_units": pts,
            "pts_s": round(pts / media_ts, 6),
            "byte_offset": offsets[idx],
            "n_bytes": sizes[idx],
            "frame_sha256": hashlib.sha256(frames[idx]).hexdigest(),
            "error": None,
        })
        if raw_track:
            # pixel golden from the generator's OWN buffers: integer floor
            # means per interleaved channel (kernel mirrors the arithmetic)
            fb = frames[idx]
            npx = vw * vh
            pix_rows.append({
                "media_id": media_id,
                "frame_idx": idx,
                "width": vw,
                "height": vh,
                "pixel_sha256": hashlib.sha256(fb).hexdigest(),
                "mean_r": sum(fb[0::3]) // npx,
                "mean_g": sum(fb[1::3]) // npx,
                "mean_b": sum(fb[2::3]) // npx,
                "error": None,
            })
    if not raw_track:
        # an opaque codec track: ONE sentinel row — the declared boundary
        pix_rows = nopix("UNSUPPORTED_CODEC")
    return payload, meta, frame_rows, pix_rows


# ---------------------------------------------------------------------------
# image fixtures — real PNG bytes built chunk-by-chunk with the FORWARD row
# filters; the kernel (multimodal._png_decode) inflates and applies the
# INVERSE filters — independent code paths (the forward transform is a
# plain per-byte subtraction against original neighbors, the inverse is a
# sequential reconstruction).  Goldens (geometry + sha256 of the raw pixel
# bytes) derive from the generator's PARAMETERS, never from parsing.
# ---------------------------------------------------------------------------
_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_PNG_CTYPE_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}


def _png_chunk(btype: bytes, body: bytes) -> bytes:
    import struct
    import zlib

    return (
        struct.pack(">I", len(body))
        + btype
        + body
        + struct.pack(">I", zlib.crc32(btype + body))
    )


def _png_ihdr(w: int, h: int, depth: int, ctype: int, interlace: int) -> bytes:
    import struct

    return _png_chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, depth, ctype, 0, 0, interlace))


def _png_filter_rows(pixels: bytes, w: int, h: int, ch: int, rng: random.Random) -> bytearray:
    """Forward-filter each scanline with a type drawn from 0-4, exercising
    every inverse in the kernel.  Per PNG spec the predictors read the
    ORIGINAL bytes of the current/prior rows, so this direction has no
    recurrence — structurally different code from the decoder's
    reconstruction loop."""
    stride = w * ch
    out = bytearray()
    prior = bytes(stride)
    for r in range(h):
        row = pixels[r * stride : (r + 1) * stride]
        ftype = rng.randint(0, 4)
        out.append(ftype)
        if ftype == 0:
            out += row
        else:
            for i in range(stride):
                a = row[i - ch] if i >= ch else 0
                b = prior[i]
                c = prior[i - ch] if i >= ch else 0
                if ftype == 1:
                    pred = a
                elif ftype == 2:
                    pred = b
                elif ftype == 3:
                    pred = (a + b) >> 1
                else:
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                out.append((row[i] - pred) & 0xFF)
        prior = row
    return out


def gen_image_doc(rng: random.Random, media_id: int) -> tuple[bytes | None, dict]:
    """Returns (payload, golden-metadata dict): ~60% valid 8-bit PNGs
    across all four supported color types with per-row filters 0-4; the
    rest exercise the per-row error taxonomy (empty, junk, cut IHDR,
    interlaced/16-bit/palette headers, corrupted zlib stream, invalid
    filter byte, truncated scanlines)."""
    import hashlib
    import zlib

    def zeros(err: str, sha: str = "") -> dict:
        return {
            "media_id": media_id, "width": 0, "height": 0, "n_channels": 0,
            "sha256": sha, "pixel_sha256": "", "error": err,
            "resized_sha256": "",
        }

    roll = rng.random()
    if roll < 0.04:
        return None, zeros("EMPTY_INPUT")
    if roll < 0.08:
        return b"", zeros("EMPTY_INPUT")
    if roll < 0.13:
        junk = b"NOPE" + bytes(rng.getrandbits(8) for _ in range(rng.randint(8, 64)))
        return junk, zeros("NOT_PNG", hashlib.sha256(junk).hexdigest())

    ctype = rng.choice((0, 2, 4, 6))
    ch = _PNG_CTYPE_CHANNELS[ctype]
    w, h = rng.randint(1, 48), rng.randint(2, 32)
    pixels = bytes(rng.getrandbits(8) for _ in range(w * h * ch))
    filtered = _png_filter_rows(pixels, w, h, ch, rng)

    def assemble(ihdr: bytes, idat_body: bytes) -> bytes:
        return _PNG_SIG + ihdr + _png_chunk(b"IDAT", idat_body) + _png_chunk(b"IEND", b"")

    base = {
        "media_id": media_id, "width": w, "height": h, "n_channels": ch,
        "sha256": "", "pixel_sha256": "", "error": None,
        "resized_sha256": "",  # only fully-valid decodes get a thumbnail
    }
    if roll < 0.17:  # IHDR chunk cut short: header never parses
        payload = _PNG_SIG + _png_ihdr(w, h, 8, ctype, 0)[:12]
        return payload, zeros("BAD_IHDR", hashlib.sha256(payload).hexdigest())
    if roll < 0.21:  # interlaced header (Adam7 stays a codec boundary)
        payload = assemble(_png_ihdr(w, h, 8, ctype, 1), zlib.compress(bytes(filtered)))
        base.update(sha256=hashlib.sha256(payload).hexdigest(), error="UNSUPPORTED")
        return payload, base
    if roll < 0.24:  # 16-bit depth header
        payload = assemble(_png_ihdr(w, h, 16, ctype, 0), zlib.compress(bytes(filtered)))
        base.update(sha256=hashlib.sha256(payload).hexdigest(), error="UNSUPPORTED")
        return payload, base
    if roll < 0.27:  # palette color (indices, 1 sample/pixel)
        payload = assemble(_png_ihdr(w, h, 8, 3, 0), zlib.compress(pixels[: w * h]))
        base.update(n_channels=1, sha256=hashlib.sha256(payload).hexdigest(), error="UNSUPPORTED")
        return payload, base
    if roll < 0.31:  # corrupted compressed stream: inflate must fail
        idat = bytearray(zlib.compress(bytes(filtered)))
        idat[len(idat) // 2] ^= 0xFF
        payload = assemble(_png_ihdr(w, h, 8, ctype, 0), bytes(idat))
        base.update(sha256=hashlib.sha256(payload).hexdigest(), error="DECODE_ERROR")
        return payload, base
    if roll < 0.34:  # an invalid filter byte inside a valid zlib stream
        stride = w * ch
        filtered[rng.randrange(h) * (1 + stride)] = 9
        payload = assemble(_png_ihdr(w, h, 8, ctype, 0), zlib.compress(bytes(filtered)))
        base.update(sha256=hashlib.sha256(payload).hexdigest(), error="DECODE_ERROR")
        return payload, base
    if roll < 0.39:  # only k < h complete scanlines present
        k = rng.randint(1, h - 1)
        stride = w * ch
        payload = assemble(
            _png_ihdr(w, h, 8, ctype, 0),
            zlib.compress(bytes(filtered[: k * (1 + stride)])),
        )
        base.update(
            sha256=hashlib.sha256(payload).hexdigest(),
            pixel_sha256=hashlib.sha256(pixels[: k * stride]).hexdigest(),
            error="TRUNCATED",
        )
        return payload, base
    payload = assemble(_png_ihdr(w, h, 8, ctype, 0), zlib.compress(bytes(filtered)))
    base.update(
        sha256=hashlib.sha256(payload).hexdigest(),
        pixel_sha256=hashlib.sha256(pixels).hexdigest(),
        resized_sha256=hashlib.sha256(_nn_resize_py(pixels, w, h, ch)).hexdigest(),
    )
    return payload, base


def _warc_record(
    wtype: bytes, uri: bytes | None, ts: bytes | None, body: bytes
) -> bytes:
    head = [b"WARC/1.0", b"WARC-Type: " + wtype]
    if uri:
        head.append(b"WARC-Target-URI: " + uri)
    if ts:
        head.append(b"WARC-Date: " + ts)
    head.append(b"Content-Length: " + str(len(body)).encode())
    return b"\r\n".join(head) + b"\r\n\r\n" + body + b"\r\n\r\n"


def fixtures_root() -> str:
    return os.environ.get(
        "OCR_SPARK_FIXTURES", os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(__file__))), "fixtures")
    )


def ensure_fixtures(tier: str = "small", root: str | None = None) -> str:
    """Idempotently generate a tier; returns its directory."""
    root = root or fixtures_root()
    out_dir = os.path.join(root, tier)
    generate_tier(tier, out_dir)
    return out_dir
