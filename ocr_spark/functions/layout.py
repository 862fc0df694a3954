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

import numpy as np

PAGE_W = 612.0
PAGE_H = 792.0
HEADER_Y = 72.0
FOOTER_Y = 720.0
X_GAP_MIN = 18.0
Y_GAP_MIN = 14.0
LINE_CLUSTER_EPS = 3.0
SPACE_GAP = 3.0


def _largest_gap(lo: np.ndarray, hi: np.ndarray) -> tuple[float, float]:
    """Largest uncovered interval in the 1-D projection of [lo, hi) boxes.

    Returns (gap_size, gap_mid); (0.0, 0.0) when fully covered.
    Deterministic: first-largest wins on ties (argmax of the vectorized gap
    array == the sorted scan that only replaces on strictly-greater —
    identical arithmetic, identical tie-break)."""
    order = np.argsort(lo, kind="stable")
    lo_s = lo[order]
    cover = np.maximum.accumulate(hi[order])
    if lo_s.size < 2:
        return 0.0, 0.0
    gaps = lo_s[1:] - cover[:-1]
    i = int(np.argmax(gaps))
    g = float(gaps[i])
    if g <= 0.0:
        return 0.0, 0.0
    return g, float((lo_s[i + 1] + cover[i]) / 2.0)


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
    xgap, xmid = _largest_gap(x0[idx], x1[idx])
    ygap, ymid = _largest_gap(y0[idx], y1[idx])
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
# (layout_ops and pdf_ops run it on every page)
# ---------------------------------------------------------------------------
# Float-discrepancy margin for the vectorized clustering fast path: its
# running means come from prefix-sum differences (cumsum[i-1] - cumsum at
# segment start) while the sequential spec sums each line fresh — the two
# can differ by ~n*ulp(sum).  y values are <= 792 and segments are <= a few
# thousand glyphs, so the discrepancy is < 1e-8; any comparison landing
# within this margin of LINE_CLUSTER_EPS falls back to the exact loop.
_CLUSTER_MARGIN = 1e-6


def _cluster_lines_fast(ys: np.ndarray) -> np.ndarray | None:
    """Vectorized rule-L3 line segmentation over SORTED baselines.

    Candidate: break where consecutive baselines jump by more than EPS;
    then VERIFY the candidate reproduces the sequential running-mean
    decisions — every inner glyph within EPS of its line's running mean,
    every segment's first glyph beyond EPS of the previous line's final
    mean — with a margin covering prefix-sum float drift.  Returns the
    per-glyph segment ids, or None when any decision is within the margin
    (caller falls back to the exact sequential loop)."""
    n = ys.size
    if n < 2:
        return np.zeros(n, dtype=np.int64)
    brk = np.diff(ys) > LINE_CLUSTER_EPS
    seg = np.concatenate(([0], np.cumsum(brk)))
    starts = np.concatenate(([0], np.nonzero(brk)[0] + 1))
    start_of = starts[seg]
    p = np.cumsum(ys)
    p0 = np.where(start_of > 0, p[np.maximum(start_of - 1, 0)], 0.0)
    k = np.arange(n) - start_of
    inner = k >= 1
    dev = np.abs(ys - (p[np.arange(n) - 1] - p0) / np.maximum(k, 1))
    if np.any(dev[inner] > LINE_CLUSTER_EPS - _CLUSTER_MARGIN):
        return None
    if starts.size > 1:
        b = starts[1:]
        prev_start = starts[:-1]
        prev_p0 = np.where(prev_start > 0, p[np.maximum(prev_start - 1, 0)], 0.0)
        prev_mean = (p[b - 1] - prev_p0) / (b - prev_start)
        if np.any(np.abs(ys[b] - prev_mean) <= LINE_CLUSTER_EPS + _CLUSTER_MARGIN):
            return None
    return seg


def _cluster_lines_seq(ys: np.ndarray) -> np.ndarray:
    """The sequential rule-L3 spec loop (running-mean clustering) over
    SORTED baselines; returns per-glyph segment ids."""
    seg = np.empty(ys.size, dtype=np.int64)
    cur = -1
    baseline_sum = 0.0
    count = 0
    for i, y in enumerate(ys.tolist()):
        if cur >= 0 and abs(y - baseline_sum / count) <= LINE_CLUSTER_EPS:
            baseline_sum += y
            count += 1
        else:
            cur += 1
            baseline_sum = y
            count = 1
        seg[i] = cur
    return seg


def _lines_text_codes(cp: np.ndarray, x0: np.ndarray, x1: np.ndarray, y1: np.ndarray) -> str:
    """Rule L3+L4 on one leaf region over code points, fully vectorized:
    one argsort for the baseline scan, the fast-path segmentation (exact
    sequential fallback inside the margin), one lexsort for (line, x0,
    input-order) glyph order, one separator insert and ONE utf-32 decode
    per leaf.  Output is byte-identical to the sequential spec
    (hypothesis-differential-tested against page_text)."""
    order = np.argsort(y1, kind="stable")
    ys = y1[order]
    seg = _cluster_lines_fast(ys)
    if seg is None:
        seg = _cluster_lines_seq(ys)
    # L3 within-line order: x0 primary, ORIGINAL input index as tiebreak
    # (`order` holds original indices); lines are already in mean-baseline
    # order because ys is sorted
    ls = np.lexsort((order, x0[order], seg))
    final = order[ls]
    codes = cp[final].astype(np.uint32)
    if final.size > 1:
        seg_sorted = seg[ls]
        new_line = seg_sorted[1:] != seg_sorted[:-1]
        gap = (x0[final][1:] - x1[final][:-1]) > SPACE_GAP
        pos = np.nonzero(new_line | gap)[0] + 1
        vals = np.where(new_line[pos - 1], np.uint32(0x0A), np.uint32(0x20))
        if pos.size:
            codes = np.insert(codes, pos, vals)
    return codes.astype("<u4").tobytes().decode("utf-32-le")


def _xycut_codes(cp, x0, y0, x1, y1, idx) -> list[str]:
    """Rule L2 over code points (same recursion as _xycut)."""
    if len(idx) == 0:
        return []
    xgap, xmid = _largest_gap(x0[idx], x1[idx])
    ygap, ymid = _largest_gap(y0[idx], y1[idx])
    cut_x = xgap >= X_GAP_MIN and xgap >= ygap
    cut_y = not cut_x and ygap >= Y_GAP_MIN
    if cut_x:
        mid = (x0[idx] + x1[idx]) / 2.0
        left, right = idx[mid < xmid], idx[mid >= xmid]
        if len(left) and len(right):
            return _xycut_codes(cp, x0, y0, x1, y1, left) + _xycut_codes(cp, x0, y0, x1, y1, right)
    if cut_y:
        mid = (y0[idx] + y1[idx]) / 2.0
        top, bottom = idx[mid < ymid], idx[mid >= ymid]
        if len(top) and len(bottom):
            return _xycut_codes(cp, x0, y0, x1, y1, top) + _xycut_codes(cp, x0, y0, x1, y1, bottom)
    return [_lines_text_codes(cp[idx], x0[idx], x1[idx], y1[idx])]


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
    x0 = np.asarray(x0, dtype=np.float64)
    y0 = np.asarray(y0, dtype=np.float64)
    x1 = np.asarray(x1, dtype=np.float64)
    y1 = np.asarray(y1, dtype=np.float64)
    yc = (y0 + y1) / 2.0
    body = np.nonzero((yc >= HEADER_Y) & (yc < FOOTER_Y))[0]
    if len(body) == 0:
        return ""
    leaves = _xycut_codes(cp, x0, y0, x1, y1, body)
    return "\n".join(t for t in leaves if t)
