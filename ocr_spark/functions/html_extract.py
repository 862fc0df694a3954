"""HTML main-content extraction (Boilerpipe/Readability-style, deterministic).

Replaces the reference's nondeterministic LLM extraction
(reference: src/ai/flows/extract-data-from-pdf.ts:40-56,150-154 — Gemini
multimodal prompt) with deterministic DOM heuristics, per BASELINE.json:6
north_star: "batch-tokenizes raw HTML byte streams into a DOM, applies
Boilerpipe/Readability-style heuristics (text-density, link-density,
tag-path depth, block fusion) to strip boilerplate".

Model
-----
The tokenizer flattens the document into *atomic text blocks* (the
Boilerpipe block model): text accumulates into the current block; opening or
closing any block-level element flushes it.  Each block records

  - ``text``          (entity-decoded, whitespace-collapsed; normalize.py N1+N2)
  - ``n_words``       word count of ``text``
  - ``anchor_chars``  characters emitted while inside an ``<a>`` element
  - ``link_density``  anchor_chars / len(stripped raw concatenated text)
                      (denominator falls back to the unstripped length for
                      all-whitespace blocks — ``raw_chars`` in the code)
  - ``depth``         element-stack depth at flush time (tag-path depth)

Classification (frozen v1):
  C1. A block is MAIN if ``link_density < 0.33`` and ``n_words >= 10``.
  C2. Fusion: an unlabeled block with ``n_words >= 3`` and
      ``link_density < 0.33`` that is immediately adjacent (in block order)
      to a MAIN block becomes MAIN; repeat to fixpoint.  (Deterministic:
      monotone closure, order-independent.)
  C3. Document text and spans follow normalize.py N3-N5.

Error channel (reference semantics: never abort the batch, always emit the
full default payload — extract-data-from-pdf.ts:87-91,156-173):
  - no MAIN blocks         -> text="", spans=[], error="NO_CONTENT"
  - html is NULL/empty     -> text="", spans=[], error="EMPTY_INPUT"
  - len(html) > size cap   -> text="", spans=[], error="DOC_TOO_LARGE:<n>"
  - parser raised          -> text="", spans=[], error="PARSE_ERROR:<type>"
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from html import unescape as _unescape

from ocr_spark.normalize import join_blocks

# Elements whose open OR close flushes the current atomic text block.
BLOCK_TAGS = frozenset(
    """address article aside blockquote body br caption dd div dl dt fieldset
    figcaption figure footer form h1 h2 h3 h4 h5 h6 header hr html li main
    nav ol option p pre section select table tbody td tfoot th thead tr ul
    """.split()
)

# Elements whose entire content is never text (dropped during tokenize).
IGNORE_TAGS = frozenset("script style noscript template head title svg iframe".split())

MAIN_LINK_DENSITY_MAX = 0.33
MAIN_MIN_WORDS = 10
FUSE_MIN_WORDS = 3
DEFAULT_MAX_HTML_BYTES = 8 * 1024 * 1024

ERR_EMPTY = "EMPTY_INPUT"
ERR_NO_CONTENT = "NO_CONTENT"
ERR_TOO_LARGE = "DOC_TOO_LARGE"
ERR_PARSE = "PARSE_ERROR"


@dataclass(slots=True)
class Block:
    text: str
    n_words: int
    anchor_chars: int
    raw_chars: int
    depth: int

    @property
    def link_density(self) -> float:
        return self.anchor_chars / self.raw_chars if self.raw_chars else 0.0


# ---------------------------------------------------------------------------
# fast tokenizer (regex scan) — the production path, called per document
# from the extraction batch step inside the writer's mapInArrow.
# ---------------------------------------------------------------------------
# One bulk re.split over the document: comments/doctype/CDATA are skipped
# (their branches capture nothing, so their slots surface as None); a tag
# match captures (closing-slash, name, self-closing-slash) — the attrs
# span is deliberately NON-capturing: it is never read, and capturing it
# would materialize one substring per tag.  Quoted attribute values may
# contain '>'.  A '/' inside the attrs span is consumed only when NOT
# followed by '>' ('/(?!>)'), so the self-closing slash always lands in
# the (/?) capture — a plain [^>"']* would greedily eat it and misread
# <br/> as an opening tag.  The attrs loop is POSSESSIVE (++ / *+): a
# one-or-more char class nested in a star is the classic (a+)* exponential-
# backtracking shape, and a document truncated mid-tag ('<a href=x' at EOF,
# no '>') made the backtracking engine hang — ~2x per extra attr char, 17 s
# at 28 chars.  Possessive is language-identical here: the star can never
# consume the '/' or '>' that the tail '(/?)>' needs (the '/(?!>)' branch
# guarantees it), so there is nothing valid to give back.  split-then-scan
# beats a finditer loop ~1.25x: the flat
# parts list replaces one Match object + .span() + .group() call per tag
# with plain list indexing (C-level), and the text chunks arrive already
# sliced.
_TOKEN_SPLIT_RE = re.compile(
    r"<!--.*?-->"
    r"|<!\[CDATA\[.*?\]\]>"
    r"|<[!?][^>]*>"
    r"|<(/?)([a-zA-Z][a-zA-Z0-9-]*)(?:(?:\"[^\"]*\"|'[^']*'|[^>\"'/]++|/(?!>))*+)(/?)>",
    re.DOTALL,
)


def tokenize_blocks(html: str) -> list[Block]:
    """Fast scanner with all-local state (no attribute traffic in the hot
    loop) — must emit exactly the blocks of ``tokenize_blocks_reference``
    on ALL input (the frozen-grammar reference; differential-tested in
    tests/test_kernels.py).  On malformed tag soup the grammar drops
    declaration-like junk to the next '>' (HTML5's bogus-comment rule)
    rather than re-emitting it as text.

    ``parts`` alternates [text, slash, name, selfc, text, ...]: each
    match contributes its 3 captured groups, each gap its text chunk
    (rule N1 entity decode on demand); stray '<' that matches no
    alternative stays inside the text chunks, exactly as with finditer.
    """
    blocks: list[Block] = []
    buf: list[str] = []
    buf_append = buf.append
    anchor_chars = 0
    anchor_depth = 0
    ignore_depth = 0
    depth = 0
    parts = _TOKEN_SPLIT_RE.split(html)
    last = len(parts) - 1
    i = 0
    while True:
        chunk = parts[i]
        if chunk and not ignore_depth:
            if "&" in chunk:
                chunk = _unescape(chunk)
            buf_append(chunk)
            if anchor_depth:
                anchor_chars += len(chunk.strip()) or len(chunk)
        if i + 4 > last:
            break
        slash = parts[i + 1]
        name = parts[i + 2]
        selfc = parts[i + 3]
        i += 4
        if name is None:
            continue  # comment / doctype / CDATA / processing instruction
        if not name.islower():
            name = name.lower()
        if name in IGNORE_TAGS:
            if slash == "/":
                if ignore_depth:
                    ignore_depth -= 1
            elif selfc != "/":
                ignore_depth += 1
            continue
        if ignore_depth:
            continue
        if name in BLOCK_TAGS:
            # block flush (rule N2 whitespace collapse)
            if buf:
                raw = "".join(buf)
                buf.clear()
                a = anchor_chars
                anchor_chars = 0
                words = raw.split()  # rule N2
                if words:
                    blocks.append(
                        Block(
                            " ".join(words),
                            len(words),
                            a,
                            len(raw.strip()) or len(raw),
                            depth,
                        )
                    )
            else:
                anchor_chars = 0
        if selfc == "/":  # self-closing: no depth/anchor change
            continue
        if slash == "/":
            if name == "a" and anchor_depth:
                anchor_depth -= 1
            if depth:
                depth -= 1
        else:
            if name == "a":
                anchor_depth += 1
            depth += 1
    # the loop's final iteration consumed the trailing text chunk; only
    # the last open block remains to flush
    if buf:
        raw = "".join(buf)
        words = raw.split()
        if words:
            blocks.append(
                Block(
                    " ".join(words),
                    len(words),
                    anchor_chars,
                    len(raw.strip()) or len(raw),
                    depth,
                )
            )
    return blocks


# ---------------------------------------------------------------------------
# grammar reference (character scanner) — an independent, regex-free
# implementation of the frozen tokenizer grammar, used ONLY for differential
# testing of tokenize_blocks on arbitrary tag soup (tests/test_kernels.py).
# The grammar, in alternation order (first match at each '<' wins; a '<'
# matching nothing is literal text):
#   1. '<!--' ... '-->'        terminated comment, dropped (shortest match)
#   2. '<![CDATA[' ... ']]>'   terminated CDATA, dropped (shortest match)
#   3. '<' [!?] [^>]* '>'      declaration / PI / bogus comment, dropped to
#                              the FIRST '>' (HTML5 bogus-comment rule; also
#                              the fallback for unterminated 1 and 2)
#   4. '<' /? name attrs /? '>'  tag; name = [a-zA-Z][a-zA-Z0-9-]*, attrs =
#                              ("..." | '...' | plain | '/' not before '>')*
#                              — quoted values may span '>' and newlines; an
#                              unclosed quote or missing final '>' makes the
#                              whole candidate literal text.
# ---------------------------------------------------------------------------


def _scan_tag(html: str, lt: int, n: int):
    """Try grammar alternative 4 at position lt ('<'). Returns
    (end, slash, name, selfc) or None."""
    i = lt + 1
    slash = ""
    if i < n and html[i] == "/":
        slash = "/"
        i += 1
    if i >= n:
        return None
    c = html[i]
    if not ("a" <= c <= "z" or "A" <= c <= "Z"):  # ASCII-only, not str.isalpha
        return None
    j = i + 1
    while j < n:
        c = html[j]
        if "a" <= c <= "z" or "A" <= c <= "Z" or "0" <= c <= "9" or c == "-":
            j += 1
        else:
            break
    name = html[i:j]
    i = j
    while i < n:
        c = html[i]
        if c == '"' or c == "'":
            j = html.find(c, i + 1)
            if j < 0:
                return None  # unclosed quote: candidate fails, '<' is text
            i = j + 1
        elif c == ">":
            return (i + 1, slash, name, "")
        elif c == "/":
            if i + 1 < n and html[i + 1] == ">":
                return (i + 2, slash, name, "/")
            i += 1  # '/' not before '>' is a plain attr char
        else:
            i += 1
    return None  # ran off the end without '>'


def tokenize_blocks_reference(html: str) -> list[Block]:
    """Regex-free scanner implementing the same frozen grammar and block
    rules as :func:`tokenize_blocks` — must emit identical blocks on ANY
    input, including adversarial tag soup (hypothesis-tested)."""
    blocks: list[Block] = []
    buf: list[str] = []
    anchor_chars = 0
    anchor_depth = 0
    ignore_depth = 0
    depth = 0

    def emit_text(chunk: str) -> None:
        nonlocal anchor_chars
        if not chunk or ignore_depth:
            return
        if "&" in chunk:
            chunk = _unescape(chunk)
        buf.append(chunk)
        if anchor_depth:
            anchor_chars += len(chunk.strip()) or len(chunk)

    def flush() -> None:
        nonlocal anchor_chars
        if buf:
            raw = "".join(buf)
            buf.clear()
            a = anchor_chars
            anchor_chars = 0
            words = raw.split()
            if words:
                blocks.append(
                    Block(" ".join(words), len(words), a,
                          len(raw.strip()) or len(raw), depth)
                )
        else:
            anchor_chars = 0

    n = len(html)
    i = 0  # scan cursor
    text_start = 0  # start of the pending literal-text span
    while i < n:
        lt = html.find("<", i)
        if lt < 0:
            break
        tok = None
        end = -1
        if html.startswith("<!--", lt):
            p = html.find("-->", lt + 4)
            if p >= 0:
                end = p + 3  # alternative 1
        if end < 0 and html.startswith("<![CDATA[", lt):
            p = html.find("]]>", lt + 9)
            if p >= 0:
                end = p + 3  # alternative 2
        if end < 0 and lt + 1 < n and html[lt + 1] in "!?":
            p = html.find(">", lt + 2)
            if p >= 0:
                end = p + 1  # alternative 3
        if end < 0:
            tok = _scan_tag(html, lt, n)
            if tok is not None:
                end = tok[0]
        if end < 0:
            i = lt + 1  # no alternative matched: '<' is literal text
            continue
        emit_text(html[text_start:lt])
        i = text_start = end
        if tok is None:
            continue  # comment / CDATA / declaration: dropped
        _, slash, name, selfc = tok
        name = name.lower()
        if name in IGNORE_TAGS:
            if slash == "/":
                if ignore_depth:
                    ignore_depth -= 1
            elif selfc != "/":
                ignore_depth += 1
            continue
        if ignore_depth:
            continue
        if name in BLOCK_TAGS:
            flush()
        if selfc == "/":
            continue
        if slash == "/":
            if name == "a" and anchor_depth:
                anchor_depth -= 1
            if depth:
                depth -= 1
        else:
            if name == "a":
                anchor_depth += 1
            depth += 1
    emit_text(html[text_start:])
    flush()
    return blocks


def classify_main(blocks: list[Block]) -> list[bool]:
    """Frozen rules C1+C2.

    C2's fixpoint ("fusable blocks adjacent to main become main, repeat")
    is a flood fill through CONTIGUOUS fusable runs — main can only
    spread via fusable blocks, so one forward and one backward sweep
    reach the fixpoint in O(n).  The naive while-changed loop is O(n ×
    longest run): a pathological 10k-block page costs 10^8 comparisons —
    a per-document straggler at crawl scale.  Equivalence to the fixpoint
    loop is property-tested (tests/test_kernels.py)."""
    # one link-density computation per block (shared by C1 and the C2 gate)
    low_ld = [
        (b.anchor_chars / b.raw_chars if b.raw_chars else 0.0) < MAIN_LINK_DENSITY_MAX
        for b in blocks
    ]
    is_main = [ld and b.n_words >= MAIN_MIN_WORDS for ld, b in zip(low_ld, blocks)]
    fusable = [ld and b.n_words >= FUSE_MIN_WORDS for ld, b in zip(low_ld, blocks)]
    n = len(blocks)
    for i in range(1, n):
        if fusable[i] and not is_main[i] and is_main[i - 1]:
            is_main[i] = True
    for i in range(n - 2, -1, -1):
        if fusable[i] and not is_main[i] and is_main[i + 1]:
            is_main[i] = True
    return is_main


def extract_html_doc(
    html: bytes | None, max_bytes: int = DEFAULT_MAX_HTML_BYTES
) -> tuple[str, list[tuple[str, int, int]], int, str | None]:
    """One document: html bytes -> (text, spans, n_blocks, error).

    Never raises (reference error-channel semantics E6,
    extract-data-from-pdf.ts:156-173).
    """
    if html is None or len(html) == 0:
        return "", [], 0, ERR_EMPTY
    if len(html) > max_bytes:
        return "", [], 0, f"{ERR_TOO_LARGE}:{len(html)}"
    try:
        decoded = html.decode("utf-8", errors="replace")
        blocks = tokenize_blocks(decoded)
        is_main = classify_main(blocks)
        main_texts = [b.text for b, m in zip(blocks, is_main) if m]
    except Exception as e:  # noqa: BLE001 — contractual: never abort the batch
        return "", [], 0, f"{ERR_PARSE}:{type(e).__name__}"
    if not main_texts:
        return "", [], 0, ERR_NO_CONTENT
    text, spans = join_blocks(main_texts)
    return text, spans, len(main_texts), None
