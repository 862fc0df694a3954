"""PDF/scan layout branch: glyph boxes -> reading-order text.

Deterministic replacement for the reference's Vision OCR engine A
(reference: src/ai/flows/extract-data-from-pdf.ts:114-139,
``DOCUMENT_TEXT_DETECTION`` -> ``fullTextAnnotation.text``), per
BASELINE.json:6: "layout-aware PDF/image page segmentation
(connected-component analysis, baseline clustering, reading-order sort via
XY-cut)".

Input: one page of glyph boxes ``(ch, x0, y0, x1, y1)`` in PDF points,
origin top-left, y growing downward (FIXTURES.md §2 — the generator emits
them in shuffled order, so reading order must be *recovered*).

Frozen layout contract (v1):
  L1. Page geometry is US-Letter (612 x 792 pt).  Glyphs with vertical
      center < HEADER_Y (72) or >= FOOTER_Y (720) are header/footer and are
      dropped before segmentation.
  L2. Recursive XY-cut on glyph bounding boxes: at each node compute the
      largest horizontal gap (projection onto x) and the largest vertical
      gap (projection onto y) strictly inside the region.  Cut HORIZONTALLY
      (columns) when the horizontal gap is >= X_GAP_MIN (18pt) AND >= the
      vertical gap (ties, exact float equality, prefer the column cut);
      OTHERWISE cut vertically when the vertical gap is >= Y_GAP_MIN (14pt)
      — the vertical cut fires on its OWN threshold even when the
      horizontal gap is numerically larger but under X_GAP_MIN.
      Children are ordered left-before-right / top-before-bottom.
  L3. Leaf regions: glyphs are clustered into lines by baseline (y1):
      sort by y1; a new line starts when y1 jumps by more than
      LINE_CLUSTER_EPS (3pt) from the current line's running-mean baseline.
      Lines are ordered by mean baseline; within a line glyphs sort by
      (x0, glyph order of input as final tiebreak — x0 ties cannot occur in
      well-formed glyph streams but the sort is made total anyway).
  L4. Spacing: within a line, a gap ``next.x0 - prev.x1 > SPACE_GAP`` (3pt)
      emits exactly one ASCII space.  Lines join with ``\n``; regions
      (XY-cut leaves, in L2 order) also join with ``\n``.  No trailing
      newline.  Empty page -> "".
"""

from __future__ import annotations

import math

import numpy as np

HEADER_Y = 72.0
FOOTER_Y = 720.0
X_GAP_MIN = 18.0
Y_GAP_MIN = 14.0
LINE_CLUSTER_EPS = 3.0
SPACE_GAP = 3.0


def _largest_gap(lo: np.ndarray, hi: np.ndarray) -> tuple[float, float]:
    """Largest uncovered interval in the 1-D projection of [lo, hi) boxes
    given in stable ascending ``lo`` order.

    Returns (gap_size, gap_mid); (0.0, 0.0) when fully covered.
    Deterministic: first-largest wins on ties (argmax of the vectorized gap
    array == the sorted scan that only replaces on strictly-greater —
    identical arithmetic, identical tie-break)."""
    if lo.size < 2:
        return 0.0, 0.0
    cover = np.maximum.accumulate(hi)
    gaps = lo[1:] - cover[:-1]
    i = int(gaps.argmax())
    g = float(gaps[i])
    if g <= 0.0:
        return 0.0, 0.0
    return g, (float(lo[i + 1]) + float(cover[i])) / 2.0


def _lines_text(ch: np.ndarray, x0: np.ndarray, x1: np.ndarray, y1: np.ndarray) -> str:
    """Rule L3+L4 on one leaf region.  The sequential running-mean cluster
    loop runs over plain Python floats (numpy scalar indexing in a tight
    loop is ~10x slower); per-line ordering and spacing stay vectorized."""
    order = np.argsort(y1, kind="stable")
    y1_sorted = y1[order].tolist()
    idx_sorted = order.tolist()
    lines: list[list[int]] = []
    baseline_sum = 0.0
    for idx, y in zip(idx_sorted, y1_sorted):
        if lines and abs(y - baseline_sum / len(lines[-1])) <= LINE_CLUSTER_EPS:
            lines[-1].append(idx)
            baseline_sum += y
        else:
            lines.append([idx])
            baseline_sum = y
    out_lines: list[str] = []
    for members in lines:
        marr = np.array(members)
        m_order = marr[np.lexsort((marr, x0[marr]))]
        chs = ch[m_order].tolist()
        x0s = x0[m_order]
        x1s = x1[m_order]
        # one space exactly where the inter-glyph gap exceeds SPACE_GAP
        space_after = (x0s[1:] - x1s[:-1]) > SPACE_GAP
        parts: list[str] = [chs[0]]
        for c, sp in zip(chs[1:], space_after.tolist()):
            if sp:
                parts.append(" ")
            parts.append(c)
        out_lines.append("".join(parts))
    return "\n".join(out_lines)


def _xycut(
    ch: np.ndarray,
    x0: np.ndarray,
    y0: np.ndarray,
    x1: np.ndarray,
    y1: np.ndarray,
    idx: np.ndarray,
) -> list[str]:
    """Rule L2, recursive; returns leaf texts in reading order."""
    if len(idx) == 0:
        return []
    xs = idx[np.argsort(x0[idx], kind="stable")]
    ys = idx[np.argsort(y0[idx], kind="stable")]
    xgap, xmid = _largest_gap(x0[xs], x1[xs])
    ygap, ymid = _largest_gap(y0[ys], y1[ys])
    cut_x = xgap >= X_GAP_MIN and xgap >= ygap  # tie -> column cut (L2)
    cut_y = not cut_x and ygap >= Y_GAP_MIN
    if cut_x:
        left = idx[(x0[idx] + x1[idx]) / 2.0 < xmid]
        right = idx[(x0[idx] + x1[idx]) / 2.0 >= xmid]
        if len(left) and len(right):
            return _xycut(ch, x0, y0, x1, y1, left) + _xycut(ch, x0, y0, x1, y1, right)
    if cut_y:
        top = idx[(y0[idx] + y1[idx]) / 2.0 < ymid]
        bottom = idx[(y0[idx] + y1[idx]) / 2.0 >= ymid]
        if len(top) and len(bottom):
            return _xycut(ch, x0, y0, x1, y1, top) + _xycut(ch, x0, y0, x1, y1, bottom)
    return [_lines_text(ch[idx], x0[idx], x1[idx], y1[idx])]


def page_text(
    ch: list[str] | np.ndarray,
    x0: np.ndarray,
    y0: np.ndarray,
    x1: np.ndarray,
    y1: np.ndarray,
) -> str:
    """One page of glyphs (any order) -> reading-order text (rules L1-L4)."""
    ch = np.asarray(ch, dtype=object)
    x0 = np.asarray(x0, dtype=np.float64)
    y0 = np.asarray(y0, dtype=np.float64)
    x1 = np.asarray(x1, dtype=np.float64)
    y1 = np.asarray(y1, dtype=np.float64)
    yc = (y0 + y1) / 2.0
    body = np.nonzero((yc >= HEADER_Y) & (yc < FOOTER_Y))[0]
    if len(body) == 0:
        return ""
    leaves = _xycut(ch, x0, y0, x1, y1, body)
    return "\n".join(t for t in leaves if t)


# ---------------------------------------------------------------------------
# codepoint fast path — identical rules L1-L4, glyphs carried as Unicode
# code points so a 23M-glyph shuffle never materializes 23M Python strings
# (layout_ops and pdf_ops run it).  L2 recurses per page; L3+L4 then run
# ONCE over every leaf of every page of the input, with a forced line
# break at each leaf boundary (leaves, like lines, join with "\n").
# ---------------------------------------------------------------------------
# Float-discrepancy margin for the vectorized clustering: its running means
# come from prefix-sum differences while the sequential spec sums each line
# fresh.  Baselines are taken relative to their candidate line's first one,
# so the prefix sums stay small (exactly 0 where a line shares one baseline);
# the margin adds a bound on the prefix-sum rounding (4 * n * eps * sum|d|).
# Any comparison landing within the margin of LINE_CLUSTER_EPS sends its
# leaf to the exact sequential loop.
_CLUSTER_MARGIN = 1e-6
_EPS = float(np.finfo(np.float64).eps)


def _line_starts_seq(ys: np.ndarray) -> np.ndarray:
    """The sequential rule-L3 spec loop (running-mean clustering) over one
    leaf's SORTED baselines; True where a new line starts."""
    starts = np.zeros(ys.size, dtype=bool)
    baseline_sum = 0.0
    count = 0
    for i, y in enumerate(ys.tolist()):
        if count and abs(y - baseline_sum / count) <= LINE_CLUSTER_EPS:
            baseline_sum += y
            count += 1
        else:
            starts[i] = True
            baseline_sum = y
            count = 1
    return starts


def _line_starts(ys: np.ndarray, leaf_start: np.ndarray) -> np.ndarray:
    """Vectorized rule L3 over baselines sorted within each leaf
    (``leaf_start`` marks each leaf's first glyph): True where a new line
    starts.

    Candidate: break at each leaf start and where consecutive baselines
    jump by more than EPS; then VERIFY the candidate reproduces the
    sequential running-mean decisions — every inner glyph within EPS of its
    line's running mean, every non-forced break beyond EPS of the previous
    line's final mean.  A leaf with any decision within the margin is
    recomputed by the exact sequential loop."""
    n = ys.size
    brk = leaf_start.copy()
    brk[1:] |= np.diff(ys) > LINE_CLUSTER_EPS
    starts = np.flatnonzero(brk)
    line = np.cumsum(brk) - 1
    start_of = starts[line]
    d = ys - ys[start_of]
    p = np.cumsum(d)
    margin = _CLUSTER_MARGIN + 4.0 * n * _EPS * float(np.abs(d).sum())
    before = np.concatenate(([0.0], p))  # before[i] = sum of d[:i]
    k = np.arange(n) - start_of  # glyphs of the line before this one
    mean = (before[:-1] - before[start_of]) / np.maximum(k, 1)
    unsure = (k >= 1) & (np.abs(d - mean) > LINE_CLUSTER_EPS - margin)
    b = starts[1:]
    b = b[~leaf_start[b]]  # the non-forced breaks
    if b.size:
        prev = starts[line[b - 1]]
        prev_mean = (before[b] - before[prev]) / (b - prev)
        near = np.abs((ys[b] - ys[prev]) - prev_mean) <= LINE_CLUSTER_EPS + margin
        unsure[b[near]] = True
    if unsure.any():
        leaf_bounds = np.flatnonzero(leaf_start).tolist() + [n]
        leaf_of = np.cumsum(leaf_start) - 1
        for leaf in np.unique(leaf_of[unsure]).tolist():
            s, e = leaf_bounds[leaf], leaf_bounds[leaf + 1]
            brk[s:e] = _line_starts_seq(ys[s:e])
    return brk


class LayoutTooLarge(Exception):
    """The XY-cut's work passed the caller's ``max_cut_work``."""


def _xycut_leaves(lo, hi, cx, cy, body, out: list, work: float) -> float:
    """Rule L2 over one page's body glyphs ``body`` (ascending indices
    into the ``n`` glyphs), the same cut as ``_xycut``: appends each
    leaf's glyph indices, in x0 order, to ``out`` in reading order and
    returns the work left.  ``lo`` is x0 then y0 and ``hi`` x1 then y1
    (``2n`` each); ``cx`` and ``cy`` are the x and y centers, each twice.

    Sort once: x0 and y0 are argsorted (stable) once per page, and each
    child keeps its parent's two orders by stable partition, which is the
    order a stable argsort of the child alone gives, so every gap and
    tie-break is the spec's.  A node is one (2, k) array: its glyphs in
    x0 order, then in y0 order offset by ``n``, so one gather, one
    ``maximum.accumulate`` and one ``argmax`` serve both projections.
    The cut runs on an explicit stack (right child pushed first), so a
    staircase of cuts one glyph at a time costs no interpreter recursion.
    Each node charges its glyph count against ``work``; going below zero
    raises ``LayoutTooLarge``."""
    n = lo.size // 2
    stack = [
        np.stack((
            body[np.argsort(lo[body], kind="stable")],
            body[np.argsort(lo[body + n], kind="stable")] + n,
        ))
    ]
    while stack:
        node = stack.pop()
        k = node.shape[1]
        work -= k
        if work < 0:
            raise LayoutTooLarge("XY-cut work budget exhausted")
        if k < 2:  # no gap in either projection
            out.append(node[0])
            continue
        # both projections' largest gaps, first-largest winning ties
        lo_s = lo[node]
        cover = np.maximum.accumulate(hi[node], axis=1)
        gaps = lo_s[:, 1:] - cover[:, :-1]
        ix, iy = gaps.argmax(axis=1).tolist()
        xgap, ygap = float(gaps[0, ix]), float(gaps[1, iy])
        # a gap <= 0 counts as 0.0 in L2; no decision below tells them apart
        if xgap >= X_GAP_MIN and xgap >= ygap:  # tie -> column cut (L2)
            c, mid = cx, (float(lo_s[0, ix + 1]) + float(cover[0, ix])) / 2.0
        elif ygap >= Y_GAP_MIN:
            c, mid = cy, (float(lo_s[1, iy + 1]) + float(cover[1, iy])) / 2.0
        else:
            out.append(node[0])
            continue
        # centers < mid go first, >= mid second; a NaN center goes to
        # neither, as in ``_xycut``.  Both rows hold the same glyphs.
        centers = c[node]
        first, second = node[centers < mid], node[centers >= mid]
        if first.size and second.size:
            stack += (second.reshape(2, -1), first.reshape(2, -1))
        else:
            out.append(node[0])
    return work


def page_texts_codes(
    page: np.ndarray,
    cp: np.ndarray,
    x0: np.ndarray,
    y0: np.ndarray,
    x1: np.ndarray,
    y1: np.ndarray,
    *,
    max_cut_work: float = math.inf,
) -> list[tuple[int, str]]:
    """Rules L1-L4 over several pages of single-code-point glyphs, each
    page one contiguous run of ``page`` (a document's ``pdf_glyph_columns``
    order) -> [(page, text)] for every run, "" where no glyph is in the
    body.  Each text equals ``page_text`` on that page's glyphs.

    L2 is ``_xycut_leaves`` per page, sharing ``max_cut_work`` (glyphs
    summed over every cut node of every page; ``LayoutTooLarge`` past
    it).  L3 and L4 then run once over all leaves of all pages."""
    page = np.asarray(page)
    n = page.size
    if n == 0:
        return []
    x0 = np.asarray(x0, dtype=np.float64)
    y0 = np.asarray(y0, dtype=np.float64)
    x1 = np.asarray(x1, dtype=np.float64)
    y1 = np.asarray(y1, dtype=np.float64)
    cuts = (np.flatnonzero(page[1:] != page[:-1]) + 1).tolist()
    xc = (x0 + x1) / 2.0
    yc = (y0 + y1) / 2.0
    lo, hi = np.concatenate((x0, y0)), np.concatenate((x1, y1))
    cx, cy = np.concatenate((xc, xc)), np.concatenate((yc, yc))
    in_body = (yc >= HEADER_Y) & (yc < FOOTER_Y)
    leaves: list[np.ndarray] = []
    page_glyphs = []  # body glyphs per page
    work = max_cut_work
    for s, e in zip([0, *cuts], [*cuts, n]):
        body = np.flatnonzero(in_body[s:e]) + s
        if body.size:
            work = _xycut_leaves(lo, hi, cx, cy, body, leaves, work)
        page_glyphs.append(body.size)
    keys = page[[0, *cuts]].tolist()
    if not leaves:
        return [(k, "") for k in keys]
    # L3 over all leaves at once, ordered (leaf, baseline, glyph order):
    # one integer key per glyph from its rank in a stable argsort of y1
    rank = np.empty(n, np.int64)
    rank[np.argsort(y1, kind="stable")] = np.arange(n)
    idx = np.concatenate(leaves)
    sizes = [leaf.size for leaf in leaves]
    leaf = np.repeat(np.arange(len(leaves)), sizes)
    idx = idx[np.argsort(leaf * n + rank[idx])]
    leaf_start = np.zeros(idx.size, dtype=bool)
    leaf_start[np.cumsum([0, *sizes[:-1]])] = True
    line = np.cumsum(_line_starts(y1[idx], leaf_start))
    # L3 within-line order: (line, x0, glyph order), the same way; lines
    # are already in leaf then mean-baseline order
    rank[np.argsort(x0, kind="stable")] = np.arange(n)
    ls = np.argsort(line * n + rank[idx])
    final = idx[ls]
    codes = cp[final].astype(np.uint32)
    line = line[ls]
    # L4: "\n" between lines (so between leaves and pages too), one space
    # where the gap inside a line exceeds SPACE_GAP
    new_line = line[1:] != line[:-1]
    gap = (x0[final][1:] - x1[final][:-1]) > SPACE_GAP
    pos = np.flatnonzero(new_line | gap) + 1
    codes = np.insert(codes, pos, np.where(new_line[pos - 1], np.uint32(0x0A), np.uint32(0x20)))
    text = codes.astype("<u4").tobytes().decode("utf-32-le")
    # cut the text back into pages: glyph j of ``final`` sits at
    # j + (separators inserted at or before j)
    ends = np.cumsum(page_glyphs)
    first = ends - np.asarray(page_glyphs)
    lo = (first + np.searchsorted(pos, first, side="right")).tolist()
    hi = (ends + np.searchsorted(pos, ends - 1, side="right")).tolist()
    return [
        (k, text[a:b] if g else "")
        for k, g, a, b in zip(keys, page_glyphs, lo, hi)
    ]


def page_text_codes(
    cp: np.ndarray,
    x0: np.ndarray,
    y0: np.ndarray,
    x1: np.ndarray,
    y1: np.ndarray,
) -> str:
    """page_text over single-code-point glyphs (the glyph schema's ``ch`` is
    one character; multi-code-point glyphs must use ``page_text``).  Output
    is identical to page_text for such input — asserted in tests."""
    cp = np.asarray(cp, dtype=np.int64)
    pages = page_texts_codes(np.zeros(cp.size, np.int64), cp, x0, y0, x1, y1)
    return pages[0][1] if pages else ""
