"""Stdlib PDF parser: raw PDF bytes -> per-glyph boxes (engine A's byte layer).

Reference behavior parity: the reference's front door accepts PDF *files*
(reference: src/app/page.tsx:444-452, accept filter :118) and engine A feeds
the raw bytes to OCR (reference: src/ai/flows/extract-data-from-pdf.ts:114-139).
This module is the deterministic byte-level replacement: it walks the PDF
object graph and replays the content-stream text operators into the glyph
schema (ocr_spark/schemas.py GLYPHS_SCHEMA) that the layout branch
(functions/layout.py rules L1-L4) consumes — so PDF bytes flow end-to-end:
bytes -> glyphs -> XY-cut reading-order text.

Frozen PDF contract (v1).  The fixture generator
(fixtures/generator.py::gen_pdf_doc) WRITES files against the same rules
through an independent code path (it composes objects / xref / content
streams; this module tokenizes and parses them back) and the goldens derive
from generator PARAMETERS (its mirrored text-matrix arithmetic), never from
parsing — the same two-sided design as the PNG/WAV/MP4 kernels.

  P1. A document must begin with b"%PDF-"; anything else -> ``not_pdf``.
  P2. The last ``startxref`` in the file tail names the byte offset of a
      CLASSIC cross-reference table (``xref`` keyword, subsection headers
      ``start count``, 20-byte-style entries, then ``trailer`` << dict >>)
      OR a PDF-1.5 CROSS-REFERENCE STREAM (an indirect stream object with
      /Type /XRef: binary entries laid out by /W field widths over /Index
      subsections, Flate-decoded, PNG Up-predictor (/Predictor >= 10 with
      per-row filter tags 0/2) supported; type-1 entries are file offsets,
      type-2 entries point into OBJECT STREAMS).  Trailers may chain via
      /Prev (incremental updates): tables are walked newest-first, the
      NEWEST entry per object wins (a newer FREE entry hides an older
      section's definition), and the newest trailer's /Root governs.  A
      /Prev loop, failure to locate/parse a table, a missing /Root, an
      unsupported predictor/filter tag, an entry offset that does not
      start the referenced object, a reference to a free or unlisted
      object, or a cycle of indirect references -> ``bad_xref``.
  P3. Objects are ``N G obj <value> endobj`` over the standard token
      grammar: dicts, arrays, names, numbers, literal + hex strings,
      indirect refs ``N G R``, booleans, null, comments, streams.
      Objects may live inside OBJECT STREAMS (/Type /ObjStm: ``N`` header
      pairs ``objnum offset`` then the value tokens at /First + offset);
      a header/index mismatch or malformed object -> ``bad_obj``.
  P4. Stream filters: none or /FlateDecode only; any other /Filter ->
      ``unsupported_filter``; Flate data that fails to inflate ->
      ``bad_stream``.  /Length may be an indirect reference.
  P5. Pages: Catalog /Pages tree, /Kids walked depth-first (interior
      /Pages nodes allowed); /MediaBox and /Resources INHERIT from
      ancestors.  A broken tree, or a node reached twice (shared or
      cyclic /Kids) -> ``bad_page_tree``.  Page y-flip uses
      the MediaBox top edge: ``y_top = media_y1 - y_pdf`` (output glyphs
      are top-down, y growing downward, per FIXTURES.md §2).
  P6. Content streams (page /Contents, a stream or array of streams
      joined with a newline; a joined length past ``max_stream_bytes`` ->
      ``stream_too_large``) support exactly the text operators
      BT ET Tf TL Td TD Tm T* ' Tj TJ plus a no-op allow-list of pure
      graphics operators (q Q w J j M d ri i gs re m l c v y h S s f F
      f* B B* b b* n W W* g G rg RG k K cs CS sc scn sh BX EX).  Tm must
      be a pure translation (a=d=1, b=c=0) — scaling/rotation, Tc/Tw/Tz/
      Ts/Tr/cm, inline images and XObjects are outside the v1 contract
      and yield ``bad_content`` (fail loud, never silently mis-place).
  P7. Glyph arithmetic (pinned; the generator mirrors it expression for
      expression so float results are BIT-IDENTICAL):
        - string bytes decode one byte -> one char via WinAnsiEncoding
          (cp1252); an undefined byte -> ``bad_content``
        - width lookup in the standard-14 tables below; a missing entry
          -> ``missing_width``; a show with no font set, a font name
          absent from /Resources/Font, or an unsupported BaseFont ->
          ``missing_font``
        - adv  = w * size / 1000.0
        - space (U+0020) advances x without emitting a glyph
        - any other char emits box
            (x,  y_top - 0.8 * size,  x + adv - 0.5,  y_top)
          then advances:  x = x + adv
        - a TJ number t adjusts  x = x - t * size / 1000.0
  P8. ``glyph_id`` is the running emission index across the document's
      pages in content-stream order, starting at 0.

Errors are PER DOCUMENT and RECORDED, never raised (E6 semantics —
reference: extract-data-from-pdf.ts error channel): taxonomy
``not_pdf | doc_too_large | bad_xref | bad_obj | unsupported_filter |
bad_stream | stream_too_large | bad_page_tree | missing_font |
missing_width | bad_content``.

Resource bounds (the html branch's DOC_TOO_LARGE discipline applied
here): the raw payload is capped (``max_bytes`` -> ``doc_too_large``)
and every FlateDecode inflation is capped (``max_stream_bytes`` ->
``stream_too_large``), as is each page's joined /Contents — a zlib bomb
in a content stream, or one stream named many times, must cost one error
row, never an executor OOM.  The content interpreter's work per document
is capped too (``MAX_DOC_WORK`` -> ``doc_too_large``: 1 unit per
operator plus each shown string's length).
"""

from __future__ import annotations

import re
import zlib
from typing import NamedTuple

import numpy as np

# ---------------------------------------------------------------------------
# standard-14 width tables (units: 1/1000 em, public Adobe AFM metrics).
# The generator carries ITS OWN copy (generator._PDF_HELV_WIDTHS); a pytest
# asserts the two copies agree so neither side can drift alone.
# ---------------------------------------------------------------------------
HELVETICA_WIDTHS: dict[str, int] = {
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


class _CourierWidths:
    """Courier is fixed-pitch: every encoded char is 600/1000 em."""

    def get(self, ch: str):  # noqa: D102 - dict-like
        return 600


COURIER_WIDTHS = _CourierWidths()

# BaseFont -> width table.  Everything else -> missing_font.
FONT_WIDTHS = {
    "Courier": COURIER_WIDTHS,
    "Courier-Bold": COURIER_WIDTHS,
    "Courier-Oblique": COURIER_WIDTHS,
    "Courier-BoldOblique": COURIER_WIDTHS,
    "Helvetica": HELVETICA_WIDTHS,
}

_NOOP_OPS = frozenset(
    "q Q w J j M d ri i gs re m l c v y h S s f F f* B B* b b* n W W* "
    "g G rg RG k K cs CS sc scn sh BX EX".split()
)

ERROR_CODES = (
    "not_pdf", "doc_too_large", "bad_xref", "bad_obj", "unsupported_filter",
    "bad_stream", "stream_too_large", "bad_page_tree", "missing_font",
    "missing_width", "bad_content",
)

# resource bounds (E6: violations land in the error channel, never OOM).
# 64 MB covers any sane text PDF; real scans/image PDFs would raise the
# caller-side knobs, not these defaults.
DEFAULT_MAX_PDF_BYTES = 64 << 20
DEFAULT_MAX_STREAM_BYTES = 64 << 20
# content work per document (``_interpret``): one unit per operator plus the
# length of each shown string, summed over pages.  Pages that share one
# small Flate stream replay it page after page: 100 such pages in an 8 KB
# file showed 15M glyphs (11 s, 3.5 GB RSS) with neither cap above firing.
# The largest fixture or benchmark document costs ~11k units; 2**20 leaves
# ~100x headroom.
MAX_DOC_WORK = 1 << 20


class PdfError(Exception):
    def __init__(self, code: str, detail: str = ""):
        super().__init__(f"{code}: {detail}" if detail else code)
        self.code = code


# ---------------------------------------------------------------------------
# token grammar (P3) — shared by body objects and content streams
# ---------------------------------------------------------------------------
class Name(str):
    """A PDF /Name, distinct from a decoded string."""


_WS = b"\x00\t\n\x0c\r "
_NUM_RE = re.compile(rb"[+-]?(\d+\.?\d*|\.\d+)([eE][+-]?\d+)?")
_S = rb"(?:[\x00\t\n\x0c\r ]++|%[^\n]*+\n?)*+"  # whitespace and comments
_REG = rb"[^\x00\t\n\x0c\r ()<>\[\]{}/%]"  # a regular (non-ws, non-delimiter) byte
_INT = rb"[+-]?\d++(?!\.|[eE][+-]?\d)"  # a _NUM_RE match with no '.', 'e', 'E'
# after an int N: " G R", G a _NUM_RE match with no '.', R delimited
_REF_TAIL = _S + rb"[+-]?\d++(?!\.)(?:[eE][+-]?\d+)?" + _S + rb"R(?!" + _REG + rb")"
_SKIP_WS = re.compile(_S)
_REF_TAIL_RE = re.compile(_REF_TAIL)
_REGULAR_RUN = re.compile(_REG + rb"*+")
_LIT_PLAIN = re.compile(rb"[^\\()]*+\)")  # a literal string's rest, no escape
_LIT_SPECIAL = re.compile(rb"[\\()]")


class _Lexer:
    def __init__(self, data: bytes, pos: int = 0):
        self.data = data
        self.pos = pos

    def _skip_ws(self) -> None:
        self.pos = _SKIP_WS.match(self.data, self.pos).end()

    def peek_keyword(self) -> str | None:
        """Next regular-character run without consuming (e.g. 'stream')."""
        start = _SKIP_WS.match(self.data, self.pos).end()
        end = _REGULAR_RUN.match(self.data, start).end()
        return self.data[start:end].decode("latin-1") or None

    def expect_keyword(self, kw: str) -> None:
        self._skip_ws()
        if not self.data.startswith(kw.encode(), self.pos):
            raise PdfError("bad_obj", f"expected {kw!r} at {self.pos}")
        self.pos += len(kw)

    # -- values -------------------------------------------------------------
    def value(self):
        """One object-grammar value.  Indirect refs come back as
        ('R', num) tuples; names as Name; strings as bytes."""
        self._skip_ws()
        d, n = self.data, len(self.data)
        if self.pos >= n:
            raise PdfError("bad_obj", "unexpected EOF")
        c = d[self.pos]
        if c == 0x2F:  # /Name
            return self._name()
        if c == 0x28:  # (literal string)
            return self._literal_string()
        if c == 0x3C:  # << dict >> or <hex>
            if d.startswith(b"<<", self.pos):
                return self._dict()
            return self._hex_string()
        if c == 0x5B:  # [ array ]
            return self._array()
        if d.startswith(b"true", self.pos):
            self.pos += 4
            return True
        if d.startswith(b"false", self.pos):
            self.pos += 5
            return False
        if d.startswith(b"null", self.pos):
            self.pos += 4
            return None
        m = _NUM_RE.match(d, self.pos)
        if m is not None:
            self.pos = m.end()
            # int when possible so /Length & refs stay exact; ref lookahead:
            # "N G R" with both integers
            txt = m.group().decode("latin-1")
            if "." not in txt and "e" not in txt and "E" not in txt:
                first = int(txt)
                m2 = _REF_TAIL_RE.match(d, self.pos)
                if m2 is not None:
                    self.pos = m2.end()
                    return ("R", first)
                return first
            return float(txt)
        raise PdfError("bad_obj", f"unparseable token at {self.pos}")

    def _name(self) -> Name:
        start = self.pos + 1  # past '/'
        self.pos = _REGULAR_RUN.match(self.data, start).end()
        return Name(self.data[start : self.pos].decode("latin-1"))

    def _literal_string(self) -> bytes:
        d, n = self.data, len(self.data)
        start = self.pos + 1  # past '('
        # fast path: no escape or nested paren before the closing one
        m = _LIT_PLAIN.match(d, start)
        if m is not None:
            self.pos = m.end()
            return d[start : self.pos - 1]
        self.pos = start
        out = bytearray()
        depth = 1
        while True:
            # copy the run up to the next '\\', '(' or ')' in one slice
            m = _LIT_SPECIAL.search(d, self.pos)
            if m is None:
                break
            out += d[self.pos : m.start()]
            c = d[m.start()]
            self.pos = m.start() + 1
            if c == 0x5C:  # backslash escape
                if self.pos >= n:
                    break
                e = d[self.pos]
                if e in b"nrtbf":
                    out.append({0x6E: 10, 0x72: 13, 0x74: 9, 0x62: 8, 0x66: 12}[e])
                    self.pos += 1
                elif e in b"()\\":
                    out.append(e)
                    self.pos += 1
                elif 0x30 <= e <= 0x37:  # 1-3 octal digits
                    oct_s = 0
                    k = 0
                    while k < 3 and self.pos < n and 0x30 <= d[self.pos] <= 0x37:
                        oct_s = oct_s * 8 + (d[self.pos] - 0x30)
                        self.pos += 1
                        k += 1
                    out.append(oct_s & 0xFF)
                elif e in b"\r\n":  # line continuation
                    self.pos += 1
                    if e == 0x0D and self.pos < n and d[self.pos] == 0x0A:
                        self.pos += 1
                else:  # unknown escape: the char stands for itself
                    out.append(e)
                    self.pos += 1
            elif c == 0x28:
                depth += 1
                out.append(c)
            else:  # ')'
                depth -= 1
                if depth == 0:
                    return bytes(out)
                out.append(c)
        raise PdfError("bad_obj", "unterminated literal string")

    def _hex_string(self) -> bytes:
        d, n = self.data, len(self.data)
        self.pos += 1  # '<'
        digits = []
        while self.pos < n:
            c = d[self.pos]
            if c == 0x3E:
                self.pos += 1
                if len(digits) % 2:
                    digits.append(0x30)  # odd count: trailing 0 (spec)
                return bytes.fromhex(bytes(digits).decode("latin-1"))
            if c in _WS:
                self.pos += 1
                continue
            if not (0x30 <= c <= 0x39 or 0x41 <= c <= 0x46 or 0x61 <= c <= 0x66):
                raise PdfError("bad_obj", f"bad hex digit at {self.pos}")
            digits.append(c)
            self.pos += 1
        raise PdfError("bad_obj", "unterminated hex string")

    def _array(self) -> list:
        self.pos += 1  # '['
        out = []
        while True:
            self._skip_ws()
            if self.pos >= len(self.data):
                raise PdfError("bad_obj", "unterminated array")
            if self.data[self.pos] == 0x5D:
                self.pos += 1
                return out
            out.append(self.value())

    def _dict(self) -> dict:
        self.pos += 2  # '<<'
        out: dict = {}
        while True:
            self._skip_ws()
            if self.data.startswith(b">>", self.pos):
                self.pos += 2
                return out
            if self.pos >= len(self.data) or self.data[self.pos] != 0x2F:
                raise PdfError("bad_obj", f"dict key must be a name at {self.pos}")
            key = self._name()
            out[str(key)] = self.value()


def _unpredict(data: bytes, predictor: int, columns: int) -> bytes:
    """Invert the PNG row predictor on xref-stream data (P2): predictors
    >= 10 mean per-row PNG filter tags; tags 0 (None) and 2 (Up) are the
    ones xref streams use in practice — anything else -> bad_xref."""
    if predictor == 1:
        return data
    if predictor < 10:
        raise PdfError("bad_xref", f"unsupported predictor {predictor}")
    stride = columns + 1
    if columns <= 0 or len(data) % stride:
        raise PdfError("bad_xref", "predictor data length mismatch")
    out = bytearray()
    prior = bytes(columns)
    for pos in range(0, len(data), stride):
        tag = data[pos]
        cur = bytearray(data[pos + 1 : pos + stride])
        if tag == 2:  # Up
            for i in range(columns):
                cur[i] = (cur[i] + prior[i]) & 0xFF
        elif tag != 0:
            raise PdfError("bad_xref", f"unsupported PNG filter tag {tag}")
        out += cur
        prior = bytes(cur)
    return bytes(out)


# ---------------------------------------------------------------------------
# document graph (P2, P3, P4, P5)
# ---------------------------------------------------------------------------
class _Document:
    def __init__(self, data: bytes, max_stream_bytes: int = DEFAULT_MAX_STREAM_BYTES):
        self.data = data
        self.max_stream_bytes = max_stream_bytes
        # object locator: int = file offset; ("objstm", stm, idx) = the
        # idx-th object inside object stream ``stm`` (xref-stream type 2);
        # None = freed by the newest section naming it (a tombstone, so an
        # older section's entry cannot resurrect the object)
        self.offsets: dict[int, object] = {}
        self.cache: dict[int, object] = {}
        self._objstm_cache: dict[int, tuple] = {}  # stm -> (pairs, body)
        self.trailer: dict = {}
        self._parse_xref()

    # -- xref ---------------------------------------------------------------
    def _parse_xref(self) -> None:
        tail = self.data[-2048:]
        i = tail.rfind(b"startxref")
        if i < 0:
            raise PdfError("bad_xref", "no startxref")
        lx = _Lexer(tail, i + len(b"startxref"))
        try:
            off = lx.value()
        except PdfError:
            raise PdfError("bad_xref", "unreadable startxref offset")
        # walk the /Prev chain newest-first: the NEWEST entry per object
        # wins (incremental updates append a new table whose entries
        # override the base file's), the newest trailer governs
        seen_tables: set[int] = set()
        while True:
            if not isinstance(off, int) or not (0 <= off < len(self.data)):
                raise PdfError("bad_xref", f"xref offset {off!r} out of range")
            if off in seen_tables:
                raise PdfError("bad_xref", "/Prev chain loop")
            seen_tables.add(off)
            trailer = self._parse_one_xref(off)
            if not self.trailer:
                self.trailer = trailer
            prev = trailer.get("Prev")
            if prev is None:
                break
            off = prev
        if not isinstance(self.trailer, dict) or "Root" not in self.trailer:
            raise PdfError("bad_xref", "trailer missing /Root")

    def _parse_one_xref(self, off: int) -> dict:
        """One cross-reference SECTION at ``off`` — a classic table or a
        PDF-1.5 xref stream; entries are added with setdefault so earlier
        (newer) sections win.  Returns the section's trailer dict."""
        lx = _Lexer(self.data, off)
        try:
            lx.expect_keyword("xref")
        except PdfError:
            return self._parse_xref_stream(off)
        try:
            while True:
                word = lx.peek_keyword()
                if word == "trailer":
                    lx.expect_keyword("trailer")
                    trailer = lx.value()
                    break
                start = lx.value()
                count = lx.value()
                if not isinstance(start, int) or not isinstance(count, int):
                    raise PdfError("bad_xref", "bad subsection header")
                for k in range(count):
                    entry_off = lx.value()
                    _gen = lx.value()
                    lx._skip_ws()
                    kind = self.data[lx.pos : lx.pos + 1]
                    lx.pos += 1
                    if kind == b"n":
                        self.offsets.setdefault(start + k, entry_off)
                    elif kind == b"f":
                        self.offsets.setdefault(start + k, None)
                    else:
                        raise PdfError("bad_xref", f"bad entry kind {kind!r}")
        except PdfError as e:
            raise PdfError("bad_xref", str(e))
        if not isinstance(trailer, dict):
            raise PdfError("bad_xref", "trailer is not a dict")
        return trailer

    def _parse_xref_stream(self, off: int) -> dict:
        """A /Type /XRef stream object at ``off`` (PDF 1.5): binary
        entries of sum(/W) bytes over /Index subsections.  The stream's
        own dict is the trailer."""
        lx = _Lexer(self.data, off)
        try:
            num = lx.value()
            gen = lx.value()
            lx.expect_keyword("obj")
            sdict = lx.value()
            if not isinstance(num, int) or not isinstance(gen, int):
                raise PdfError("bad_xref", "xref stream header is not N G obj")
            if not isinstance(sdict, dict) or str(sdict.get("Type", "")) != "XRef":
                raise PdfError("bad_xref", f"no xref table or /XRef stream at {off}")
            if not isinstance(sdict.get("Length"), int):
                # the spec requires a DIRECT /Length here (resolving an
                # indirect one would need the very table being parsed)
                raise PdfError("bad_xref", "xref stream /Length must be direct")
            _, _, body = self._read_stream(lx, sdict)
        except PdfError as e:
            raise PdfError("bad_xref", str(e))
        parms = sdict.get("DecodeParms")
        if isinstance(parms, dict):
            body = _unpredict(
                body,
                int(parms.get("Predictor", 1)),
                int(parms.get("Columns", 1)),
            )
        w = sdict.get("W")
        size = sdict.get("Size")
        if (
            not isinstance(w, list)
            or len(w) != 3
            or not all(isinstance(x, int) and 0 <= x <= 8 for x in w)
            or not isinstance(size, int)
        ):
            raise PdfError("bad_xref", "xref stream missing/bad /W or /Size")
        index = sdict.get("Index", [0, size])
        if not isinstance(index, list) or len(index) % 2:
            raise PdfError("bad_xref", "bad /Index")
        row = sum(w)
        if row == 0:
            raise PdfError("bad_xref", "zero-width xref entries")
        pos = 0

        def field(width: int, default: int) -> int:
            nonlocal pos
            if width == 0:
                return default
            v = int.from_bytes(body[pos : pos + width], "big")
            pos += width
            return v

        for i in range(0, len(index), 2):
            start, count = index[i], index[i + 1]
            if not isinstance(start, int) or not isinstance(count, int):
                raise PdfError("bad_xref", "bad /Index pair")
            for k in range(count):
                if pos + row > len(body):
                    raise PdfError("bad_xref", "xref stream data truncated")
                etype = field(w[0], 1)
                f2 = field(w[1], 0)
                f3 = field(w[2], 0)
                objnum = start + k
                if etype == 0:
                    self.offsets.setdefault(objnum, None)
                elif etype == 1:
                    self.offsets.setdefault(objnum, f2)
                elif etype == 2:
                    self.offsets.setdefault(objnum, ("objstm", f2, f3))
                # unknown types: skipped (spec: readers ignore entry types
                # they don't understand)
        return sdict

    # -- objects ------------------------------------------------------------
    def resolve(self, v):
        # a chain of distinct objects has at most len(offsets) hops; more
        # is a cycle (``1 0 obj 1 0 R endobj``), which would never end
        hops = 0
        while isinstance(v, tuple) and len(v) == 2 and v[0] == "R":
            hops += 1
            if hops > len(self.offsets):
                raise PdfError("bad_xref", "indirect reference cycle")
            v = self.get(v[1])
        return v

    def get(self, num: int):
        if num in self.cache:
            return self.cache[num]
        loc = self.offsets.get(num)
        if loc is None:
            raise PdfError("bad_xref", f"object {num} not in xref")
        if isinstance(loc, tuple):
            val = self._get_from_objstm(loc[1], loc[2], num)
            self.cache[num] = val
            return val
        lx = _Lexer(self.data, loc)
        got = lx.value()
        gen = lx.value()
        if got != num or not isinstance(gen, int):
            raise PdfError("bad_xref", f"xref offset for obj {num} is wrong")
        lx.expect_keyword("obj")
        val = lx.value()
        if lx.peek_keyword() == "stream":
            val = self._read_stream(lx, val)
        self.cache[num] = val
        return val

    def _get_from_objstm(self, stm: int, idx: int, num: int):
        """Object ``num`` at position ``idx`` inside object stream ``stm``
        (/Type /ObjStm: ``N`` header pairs then value tokens at /First +
        offset).  Streams cannot nest inside an ObjStm (spec 7.5.7)."""
        cached = self._objstm_cache.get(stm)
        if cached is None:
            container = self.get(stm)
            if not (
                isinstance(container, tuple)
                and container[0] == "stream"
                and str(container[1].get("Type", "")) == "ObjStm"
            ):
                raise PdfError("bad_obj", f"object {num}: container {stm} is not an ObjStm")
            d, body = container[1], container[2]
            n, first = self.resolve(d.get("N")), self.resolve(d.get("First"))
            if not isinstance(n, int) or not isinstance(first, int):
                raise PdfError("bad_obj", f"ObjStm {stm} missing /N or /First")
            hlx = _Lexer(body)
            pairs = []
            for _ in range(n):
                onum = hlx.value()
                ooff = hlx.value()
                if not isinstance(onum, int) or not isinstance(ooff, int):
                    raise PdfError("bad_obj", f"ObjStm {stm} header is not int pairs")
                pairs.append((onum, ooff))
            cached = (pairs, first, body)
            self._objstm_cache[stm] = cached
        pairs, first, body = cached
        if not (0 <= idx < len(pairs)) or pairs[idx][0] != num:
            raise PdfError("bad_obj", f"ObjStm {stm} index {idx} does not hold obj {num}")
        return _Lexer(body, first + pairs[idx][1]).value()

    def _read_stream(self, lx: _Lexer, sdict) -> tuple:
        """Returns ('stream', dict, decoded_bytes) applying P4 filters."""
        if not isinstance(sdict, dict):
            raise PdfError("bad_obj", "stream without a dict")
        lx.expect_keyword("stream")
        # exactly CRLF or LF after the keyword (spec 7.3.8.1)
        if self.data.startswith(b"\r\n", lx.pos):
            lx.pos += 2
        elif self.data.startswith(b"\n", lx.pos):
            lx.pos += 1
        length = self.resolve(sdict.get("Length"))
        if not isinstance(length, int) or length < 0 or lx.pos + length > len(self.data):
            raise PdfError("bad_obj", "bad /Length")
        raw = self.data[lx.pos : lx.pos + length]
        filt = self.resolve(sdict.get("Filter"))
        if filt is None:
            body = raw
        else:
            filters = filt if isinstance(filt, list) else [filt]
            body = raw
            for f in filters:
                if str(f) != "FlateDecode":
                    raise PdfError("unsupported_filter", str(f))
                try:
                    # BOUNDED inflation: a zlib bomb (10 KB compressing to
                    # gigabytes) must cost one error row, not an executor
                    # OOM — decompress at most max_stream_bytes + 1 and
                    # reject anything that still has input pending
                    d = zlib.decompressobj()
                    body = d.decompress(body, self.max_stream_bytes + 1)
                except zlib.error as e:
                    raise PdfError("bad_stream", str(e))
                if len(body) > self.max_stream_bytes or d.unconsumed_tail:
                    raise PdfError(
                        "stream_too_large",
                        f"inflated past {self.max_stream_bytes} bytes",
                    )
        return ("stream", sdict, body)

    # -- page tree ----------------------------------------------------------
    def pages(self) -> list[tuple[dict, dict]]:
        """Depth-first leaf pages as (page_dict, inherited) where inherited
        carries the resolved /MediaBox and /Resources in effect (P5)."""
        root = self.resolve(self.trailer["Root"])
        if not isinstance(root, dict):
            raise PdfError("bad_page_tree", "Root is not a dict")
        pages_ref = root.get("Pages")
        if pages_ref is None:
            raise PdfError("bad_page_tree", "Catalog missing /Pages")
        out: list[tuple[dict, dict]] = []
        # ids of the nodes walked so far: a node reached twice (a shared
        # /Kids entry) is not a tree, and a DAG of shared kids would walk
        # 2**depth paths.  Resolved objects stay alive in self.cache or
        # their parent's /Kids, so an id is never reused mid-walk.
        seen: set[int] = set()

        def walk(node, inherited: dict, depth: int) -> None:
            if depth > 64:
                raise PdfError("bad_page_tree", "page tree too deep")
            node = self.resolve(node)
            if not isinstance(node, dict):
                raise PdfError("bad_page_tree", "non-dict page node")
            if id(node) in seen:
                raise PdfError("bad_page_tree", "page tree node reached twice")
            seen.add(id(node))
            inh = dict(inherited)
            for k in ("MediaBox", "Resources"):
                if k in node:
                    inh[k] = self.resolve(node[k])
            t = str(node.get("Type", ""))
            if t == "Pages":
                kids = self.resolve(node.get("Kids"))
                if not isinstance(kids, list):
                    raise PdfError("bad_page_tree", "/Pages without /Kids")
                for kid in kids:
                    walk(kid, inh, depth + 1)
            elif t == "Page":
                out.append((node, inh))
            else:
                raise PdfError("bad_page_tree", f"unexpected node type {t!r}")

        walk(pages_ref, {}, 0)
        return out


# ---------------------------------------------------------------------------
# content interpreter (P6, P7)
# ---------------------------------------------------------------------------
def _page_fonts(doc: _Document, inherited: dict) -> dict:
    res = doc.resolve(inherited.get("Resources"))
    if not isinstance(res, dict):
        return {}
    fonts = doc.resolve(res.get("Font"))
    if not isinstance(fonts, dict):
        return {}
    out = {}
    for name, ref in fonts.items():
        fd = doc.resolve(ref)
        if isinstance(fd, dict):
            out[name] = str(fd.get("BaseFont", ""))
    return out


def _page_content(doc: _Document, page: dict) -> bytes:
    contents = doc.resolve(page.get("Contents"))
    if contents is None:
        return b""
    parts = contents if isinstance(contents, list) else [contents]
    chunks = []
    size = -1  # joined length so far (no newline before the first chunk)
    for p in parts:
        p = doc.resolve(p)
        if not (isinstance(p, tuple) and p[0] == "stream"):
            raise PdfError("bad_obj", "/Contents entry is not a stream")
        # the joined content obeys the per-stream bound: an array naming
        # one stream many times would otherwise hold that many copies
        size += 1 + len(p[2])
        if size > doc.max_stream_bytes:
            raise PdfError(
                "stream_too_large", f"/Contents joins past {doc.max_stream_bytes} bytes"
            )
        chunks.append(p[2])
    # multiple streams form one logical stream; a newline keeps tokens apart
    return b"\n".join(chunks)


def _page_inputs(doc: _Document):
    """(page_no, content, fonts, media_top) per leaf page, resolved lazily
    so a page's errors surface after the pages before it ran."""
    for page_no, (page, inherited) in enumerate(doc.pages(), start=1):
        media = doc.resolve(inherited.get("MediaBox"))
        if not (isinstance(media, list) and len(media) == 4):
            raise PdfError("bad_page_tree", "missing /MediaBox")
        media_top = float(media[3])
        fonts = _page_fonts(doc, inherited)
        yield page_no, _page_content(doc, page), fonts, media_top


# content tokens (P3 grammar, P6 operators).  One regex match per token
# covers whitespace/comments plus the common shapes: operators, numbers,
# names, refs, hex strings, literal strings with no escape or nested paren,
# and arrays of those.  Anything else (an escaped string, a dict, a stray
# delimiter, an operator inside an array) is read by ``_Lexer`` from the
# token's start, or from the outermost open array's '[' — one grammar.
_CONTENT_TOKEN = re.compile(
    _S
    + rb"(?:(?P<op>[^\x00\t\n\x0c\r ()<>\[\]{}/%+\-.0-9]" + _REG + rb"*+)"
    + rb"|(?P<ref>" + _INT + rb")" + _REF_TAIL
    + rb"|(?P<int>" + _INT + rb")"
    + rb"|(?P<real>[+-]?(?:\d+\.?\d*|\.\d+)(?:[eE][+-]?\d+)?)"
    + rb"|\((?P<str>[^\\()]*+)\)"
    + rb"|/(?P<name>" + _REG + rb"*+)"
    + rb"|<(?P<hex>[0-9A-Fa-f\t\n\x0c\r ]*+)>"
    + rb"|(?P<open>\[)|(?P<close>\])|(?P<end>\Z)|(?P<other>[\s\S]))"
)
_OPERAND_START = frozenset(b"/(<[+-.0123456789")


def _content_tokens(content: bytes):
    """Content-stream tokens in order: operators as ``str``, operands as
    object-grammar values (``Name``, bytes, int, float, list, refs).  A
    malformed operand or a stray delimiter raises ``bad_content``."""
    pos = 0
    while True:
        nest: list[list] = []  # open arrays, outermost first
        for m in _CONTENT_TOKEN.finditer(content, pos):
            kind = m.lastgroup
            if kind == "op" and not nest:
                yield m.group("op").decode("latin-1")
                continue
            if kind == "int":
                v = int(m.group("int"))
            elif kind == "str":
                v = m.group("str")
            elif kind == "real":
                v = float(m.group("real"))
            elif kind == "name":
                v = Name(m.group("name").decode("latin-1"))
            elif kind == "hex":
                h = m.group("hex").translate(None, _WS)
                v = bytes.fromhex((h + b"0" if len(h) % 2 else h).decode("latin-1"))
            elif kind == "ref":
                v = ("R", int(m.group("ref")))
            elif kind == "open":
                if not nest:
                    array_start = m.start("open")
                nest.append([])
                continue
            elif kind == "close" and nest:
                v = nest.pop()
            elif kind == "end" and not nest:
                return
            else:
                break
            if nest:
                nest[-1].append(v)
            else:
                yield v
        # the token _CONTENT_TOKEN leaves to the object grammar
        pos = array_start if nest else m.start(kind)
        if content[pos] in _OPERAND_START:
            lx = _Lexer(content, pos)
            try:
                v = lx.value()
            except PdfError as e:
                raise PdfError("bad_content", str(e))
            pos = lx.pos
            yield v
        else:  # a delimiter that starts no operand
            raise PdfError("bad_content", f"stray delimiter at {pos}")


def _cp1252_table() -> np.ndarray:
    """Code point per byte under WinAnsiEncoding (P7); -1 = undefined."""
    cp = np.full(256, -1, np.int64)
    for b in range(256):
        try:
            cp[b] = ord(bytes([b]).decode("cp1252"))
        except UnicodeDecodeError:
            pass
    return cp


def _byte_class(mask: np.ndarray):
    """A regex matching any byte where ``mask`` is set (None when none is)."""
    hits = np.flatnonzero(mask).tolist()
    if not hits:
        return None
    return re.compile(b"[" + b"".join(re.escape(bytes([b])) for b in hits) + b"]")


_CP1252 = _cp1252_table()
_UNDEFINED_BYTE = _byte_class(_CP1252 < 0)


def _width_table(widths) -> tuple[np.ndarray, object]:
    """(width per byte, NaN where the font has none; regex of those bytes)."""
    w = np.full(256, np.nan)
    for b in np.flatnonzero(_CP1252 >= 0).tolist():
        v = widths.get(chr(_CP1252[b]))
        if v is not None:
            w[b] = v
    return w, _byte_class(np.isnan(w) & (_CP1252 >= 0))


# BaseFont -> per-byte width table, built once from FONT_WIDTHS
_FONT_TABLES = {base: _width_table(w) for base, w in FONT_WIDTHS.items()}


class GlyphColumns(NamedTuple):
    """A document's glyphs as columns, in P8 emission order (glyph_id is
    the row index); ``cp`` holds each glyph's Unicode code point."""

    page: np.ndarray
    cp: np.ndarray
    x0: np.ndarray
    y0: np.ndarray
    x1: np.ndarray
    y1: np.ndarray


NO_GLYPHS = GlyphColumns(
    np.empty(0, np.int64), np.empty(0, np.int64), *(np.empty(0) for _ in range(4))
)


def _interpret(pages) -> GlyphColumns:
    """Replay the P6 operator set over ``pages`` — (page_no, content, fonts,
    media_top) in leaf order — and return the glyph columns per P7.

    Each show is vectorized: its bytes index the per-byte code point and
    advance tables, and one sequential ``np.add.accumulate`` over
    ``[x, adv...]`` yields the pen positions — the same float additions,
    in the same order, as the scalar ``x = x + adv``, so boxes stay
    bit-identical to the generator's mirrored arithmetic.

    The document's pages share one ``MAX_DOC_WORK`` budget: each operator
    costs 1 and each shown string its length, charged once per show call.
    Exceeding it is ``doc_too_large``."""
    shows: list[bytes] = []  # shown strings, spaces included
    pens: list[np.ndarray] = []  # per show: pen x before each byte and after the last
    meta: list[tuple] = []  # per show: (page, y0, y1)
    work = MAX_DOC_WORK

    def show(sbytes: bytes) -> None:
        nonlocal x, work
        if adv is None:
            raise PdfError("missing_font", "show with no font set")
        if _UNDEFINED_BYTE.search(sbytes) is not None:
            raise PdfError("bad_content", "undefined WinAnsi byte")
        n = len(sbytes)
        work -= n
        if work < 0:
            raise PdfError("doc_too_large", "content work budget exhausted")
        if no_width is not None and no_width.search(sbytes) is not None:
            raise PdfError("missing_width", repr(sbytes))
        if n == 0:
            return
        xs = np.empty(n + 1)
        xs[0] = x
        adv.take(np.frombuffer(sbytes, np.uint8), out=xs[1:])
        np.add.accumulate(xs, out=xs)
        x = float(xs[n])
        y_top = media_top - y
        shows.append(sbytes)
        pens.append(xs)
        meta.append((page_no, y_top - 0.8 * size, y_top))

    for page_no, content, fonts, media_top in pages:
        stack: list = []
        adv = None  # per-byte advance at the active font and size
        no_width = None  # regex of the bytes the active font has no width for
        size = 0.0
        leading = 0.0
        line_x = line_y = 0.0  # text line matrix translation
        x = y = 0.0  # current pen position
        in_text = False
        for op in _content_tokens(content):
            if type(op) is not str:  # operands are values; operators are str
                stack.append(op)
                continue
            work -= 1
            if work < 0:
                raise PdfError("doc_too_large", "content work budget exhausted")
            try:
                if op == "Tj":
                    show(stack[-1])
                elif op == "Td" or op == "TD":
                    tx, ty = float(stack[-2]), float(stack[-1])
                    if op == "TD":
                        leading = -ty
                    line_x = line_x + tx
                    line_y = line_y + ty
                    x, y = line_x, line_y
                elif op == "Tm":
                    a, b, cc, d2, e, f = (float(v) for v in stack[-6:])
                    if a != 1.0 or b != 0.0 or cc != 0.0 or d2 != 1.0:
                        raise PdfError("bad_content", "Tm with scale/rotation")
                    line_x, line_y = e, f
                    x, y = line_x, line_y
                elif op == "TJ":
                    arr = stack[-1]
                    if not isinstance(arr, list):
                        raise PdfError("bad_content", "TJ operand is not an array")
                    for el in arr:
                        if isinstance(el, bytes):
                            show(el)
                        elif isinstance(el, (int, float)):
                            x = x - float(el) * size / 1000.0
                        else:
                            raise PdfError("bad_content", f"TJ element {el!r}")
                elif op == "T*":
                    line_y = line_y - leading
                    x, y = line_x, line_y
                elif op == "'":
                    line_y = line_y - leading
                    x, y = line_x, line_y
                    show(stack[-1])
                elif op == "BT":
                    line_x = line_y = x = y = 0.0
                    in_text = True
                elif op == "ET":
                    in_text = False
                elif op == "Tf":
                    fname, fsize = stack[-2], stack[-1]
                    base = fonts.get(str(fname))
                    if base is None:
                        raise PdfError("missing_font", str(fname))
                    table = _FONT_TABLES.get(base)
                    if table is None:
                        raise PdfError("missing_font", base)
                    size = float(fsize)
                    widths, no_width = table
                    adv = widths * size / 1000.0  # adv = w * size / 1000.0
                elif op == "TL":
                    leading = float(stack[-1])
                elif op in _NOOP_OPS:
                    pass
                else:
                    raise PdfError("bad_content", f"unsupported operator {op!r}")
            except IndexError:
                raise PdfError("bad_content", f"operator {op!r} missing operands")
            stack.clear()
        if in_text:
            raise PdfError("bad_content", "unbalanced BT/ET")
    if not shows:
        return NO_GLYPHS
    counts = np.fromiter(map(len, shows), np.int64, len(shows))
    page, y0, y1 = (np.repeat(np.array(c), counts) for c in zip(*meta))
    cp = _CP1252[np.frombuffer(b"".join(shows), np.uint8)]
    x0 = np.concatenate([xs[:-1] for xs in pens])
    x1 = np.concatenate([xs[1:] for xs in pens]) - 0.5  # x + adv - 0.5
    glyph = cp != 0x20  # a space advances the pen and emits nothing
    return GlyphColumns(page[glyph], cp[glyph], x0[glyph], y0[glyph], x1[glyph], y1[glyph])


# ---------------------------------------------------------------------------
# public entry
# ---------------------------------------------------------------------------
def pdf_glyph_columns(
    payload: bytes | None,
    max_bytes: int = DEFAULT_MAX_PDF_BYTES,
    max_stream_bytes: int = DEFAULT_MAX_STREAM_BYTES,
) -> tuple[GlyphColumns, str | None]:
    """Raw PDF bytes -> (GlyphColumns, error).

    Glyphs come in content-stream emission order (page numbers are 1-based
    leaf order, P5; ``glyph_id`` is the row index per P8).  On any contract
    violation returns ``(NO_GLYPHS, code)`` with a taxonomy code — never
    raises.  ``max_bytes`` bounds the raw payload (-> ``doc_too_large``);
    ``max_stream_bytes`` bounds every FlateDecode inflation and each page's
    joined content (-> ``stream_too_large``)."""
    if payload is None or not payload.startswith(b"%PDF-"):
        return NO_GLYPHS, "not_pdf"
    if len(payload) > max_bytes:
        return NO_GLYPHS, "doc_too_large"
    try:
        doc = _Document(bytes(payload), max_stream_bytes=max_stream_bytes)
        with np.errstate(all="ignore"):  # IEEE inf/nan, as Python floats give
            cols = _interpret(_page_inputs(doc))
    except PdfError as e:
        return NO_GLYPHS, e.code
    except RecursionError:
        return NO_GLYPHS, "bad_obj"
    except Exception:  # noqa: BLE001 — E6: a malformed file must land in
        # the error channel, never abort the batch.  Typed PdfErrors cover
        # every ANTICIPATED violation; this catches the grammar's long
        # tail (an operator fed a number where a string belongs ->
        # TypeError, a bytes operand to float() -> ValueError, ...).
        # Masked kernel defects still surface: the golden oracles compare
        # full row content, so a wrongly-errored document fails them.
        return NO_GLYPHS, "bad_obj"
    return cols, None


def pdf_glyphs(
    payload: bytes | None,
    max_bytes: int = DEFAULT_MAX_PDF_BYTES,
    max_stream_bytes: int = DEFAULT_MAX_STREAM_BYTES,
):
    """Raw PDF bytes -> (glyph_rows, error): ``pdf_glyph_columns`` as a
    list of (page, ch, x0, y0, x1, y1) tuples, ``([], code)`` on error."""
    cols, err = pdf_glyph_columns(payload, max_bytes, max_stream_bytes)
    if err is not None:
        return [], err
    chars = cols.cp.astype("<u4").tobytes().decode("utf-32-le")
    return list(
        zip(cols.page.tolist(), chars, *(c.tolist() for c in cols[2:]))
    ), None
