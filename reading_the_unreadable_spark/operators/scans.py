"""Scanned-page preprocessing: binarization + deskew, pure numpy.

The reference's domain is scanned newspaper pages; the standard
pipeline ahead of any layout analysis is (1) binarize the scan (Otsu's
global threshold — the classic histogram-valley split) and (2) estimate
and correct the page skew a flatbed/microfilm scan always carries
(projection-profile method: the rotation angle that maximizes the
variance of row ink counts is the angle at which text lines align with
the raster).  Both are classical published algorithms; both compose
with the rest of this repo — the binarized page is exactly what the
Group-4 TIFF writer (:mod:`tiff`/:mod:`g4`) consumes.

Scale shape: per-page numpy inside the payload-decode stage of
:func:`..execution.decode_payloads` (same as every media operator here
— Arrow batches, no per-row Python UDF, no collect)."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ..execution import decode_payloads

SCAN_FEATURE_SCHEMA = (
    "media_ref string, otsu_threshold int, ink_ratio double, "
    "skew_deg double, decode_err string"
)


def otsu_threshold(gray: np.ndarray) -> int:
    """Otsu's method on a 256-bin histogram: the threshold maximizing
    between-class variance.  Returns t in [0, 255]; pixels >= t are
    background (white) for a dark-on-light scan."""
    hist = np.bincount(gray.ravel(), minlength=256).astype(np.float64)
    total = hist.sum()
    if total == 0:
        return 128
    p = hist / total
    omega = np.cumsum(p)  # class-0 probability up to t
    mu = np.cumsum(p * np.arange(256))  # class-0 mean mass
    mu_t = mu[-1]
    with np.errstate(divide="ignore", invalid="ignore"):
        sigma_b = (mu_t * omega - mu) ** 2 / (omega * (1.0 - omega))
    sigma_b[~np.isfinite(sigma_b)] = 0.0
    return int(np.argmax(sigma_b))


def binarize_otsu(arr: np.ndarray) -> tuple[np.ndarray, int]:
    """HxWx3 (or HxW) uint8 → (bool page with True = WHITE — the
    convention the TIFF writer consumes — , threshold)."""
    gray = arr.mean(axis=2).astype(np.uint8) if arr.ndim == 3 else arr
    t = otsu_threshold(gray)
    # Otsu splits classes at <= t vs > t: class 0 (dark, <= t) is ink
    return gray > t, t


def estimate_skew(page: np.ndarray) -> float:
    """Projection-profile skew estimate on a bilevel page (True=white).
    For each candidate angle in ±5° at 0.25° steps the columns are
    sheared by integer-pixel offsets (tan θ per row — exact enough
    under ±5°) and the variance of row
    INK counts is scored; text lines aligned with the raster concentrate
    ink into few rows → maximal variance.  Returns degrees with the
    sign such that ``deskew(arr, estimate_skew(page))`` straightens the
    page."""
    ink = ~page
    h, w = ink.shape
    if h < 4 or w < 4 or not ink.any():
        return 0.0
    # column-index grid reused across angles
    cols = np.arange(w)
    best_angle, best_score = 0.0, -1.0
    angles = np.arange(-5.0, 5.0 + 1e-9, 0.25)
    col_ink = ink.astype(np.int32)
    for a in angles:
        shift = np.round(np.tan(np.radians(a)) * cols).astype(np.int64)
        # shear: row of each ink pixel moves by shift[col]; histogram
        # the shifted row indices weighted by per-(row,col) ink
        rows = np.add.outer(np.arange(h), shift)  # (h, w) target rows
        counts = np.bincount(
            (rows - rows.min()).ravel(), weights=col_ink.ravel()
        )
        score = float(np.var(counts))
        if score > best_score:
            best_score, best_angle = score, float(a)
    return -best_angle if best_angle != 0.0 else 0.0  # never -0.0


def deskew(arr: np.ndarray, angle_deg: float) -> np.ndarray:
    """Rotate an HxWx3 image by ``-angle_deg`` (nearest neighbor,
    same-size canvas, white fill) — undoes :func:`estimate_skew`."""
    h, w = arr.shape[:2]
    theta = np.radians(-angle_deg)
    c, s = np.cos(theta), np.sin(theta)
    cy, cx = (h - 1) / 2.0, (w - 1) / 2.0
    yy, xx = np.mgrid[0:h, 0:w]
    sy = c * (yy - cy) - s * (xx - cx) + cy
    sx = s * (yy - cy) + c * (xx - cx) + cx
    syi = np.clip(np.round(sy).astype(np.int64), 0, h - 1)
    sxi = np.clip(np.round(sx).astype(np.int64), 0, w - 1)
    out = arr[syi, sxi]
    oob = (sy < 0) | (sy > h - 1) | (sx < 0) | (sx > w - 1)
    out[oob] = 255
    return out


def scan_preprocess_features(media: DataFrame) -> DataFrame:
    """(media_ref, payload binary, …) → per-page scan diagnostics:
    Otsu threshold, ink ratio, estimated skew, through
    :func:`..execution.decode_payloads`."""
    from .multimodal import decode_image

    def rows(b: bytes):
        page, t = binarize_otsu(decode_image(b))
        yield (
            int(t), round(float((~page).mean()), 6),
            round(estimate_skew(page), 3), None,
        )

    return decode_payloads(
        media, SCAN_FEATURE_SCHEMA, ("media_ref",), rows, (0, 0.0, 0.0)
    )


# ------------------------------------------------ pixels → layout blocks
def _ink_runs(row: np.ndarray) -> list[tuple[int, int]]:
    """[x0, x1) spans of ink (True) in a 1-D bool row."""
    d = np.diff(row.astype(np.int8), prepend=0, append=0)
    starts = np.flatnonzero(d == 1)
    ends = np.flatnonzero(d == -1)
    return list(zip(starts.tolist(), ends.tolist()))


def connected_component_boxes(page: np.ndarray) -> list[tuple[int, int, int, int]]:
    """8-connected components of the INK pixels of a bilevel page
    (True = white), as (x1, y1, x2, y2) boxes of at least 4 pixels,
    reading order (y1, x1).

    Run-based two-pass union-find: each row's ink runs are the units
    and unions link runs overlapping (±1 for 8-connectivity) between
    consecutive rows — O(#runs), not O(#pixels), so a full page costs
    milliseconds without scipy."""
    ink = ~page
    parent: list[int] = []

    def find(i: int) -> int:
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    def union(a: int, b: int) -> None:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[rb] = ra

    boxes: list[list[int]] = []  # per run-label: [x1, y1, x2, y2]
    prev: list[tuple[int, int, int]] = []  # (x0, x1 excl, label) of prior row
    for y in range(ink.shape[0]):
        cur: list[tuple[int, int, int]] = []
        for x0, x1 in _ink_runs(ink[y]):
            lbl = len(parent)
            parent.append(lbl)
            boxes.append([x0, y, x1 - 1, y])
            for px0, px1, plbl in prev:
                # runs [x0,x1) and [px0,px1) touch 8-connectively iff
                # x0 <= px1 and px0 <= x1 (diagonal contact included,
                # a 2-column horizontal gap correctly excluded)
                if x0 <= px1 and px0 <= x1:
                    union(plbl, lbl)
            cur.append((x0, x1, lbl))
        prev = cur
    merged: dict[int, list[int]] = {}
    for lbl, (x1, y1, x2, y2) in enumerate(boxes):
        r = find(lbl)
        if r in merged:
            m = merged[r]
            m[0] = min(m[0], x1)
            m[1] = min(m[1], y1)
            m[2] = max(m[2], x2)
            m[3] = max(m[3], y2)
        else:
            merged[r] = [x1, y1, x2, y2]
    out = [
        (b[0], b[1], b[2], b[3])
        for b in merged.values()
        if (b[2] - b[0] + 1) * (b[3] - b[1] + 1) >= 4
    ]
    return sorted(out, key=lambda b: (b[1], b[0]))


BLOCK_GAP_X, BLOCK_GAP_Y = 8, 4  # px: glyphs closer than this share a block


def merge_nearby_boxes(
    boxes: list[tuple[int, int, int, int]],
) -> list[tuple[int, int, int, int]]:
    """Cluster glyph/word boxes into text blocks: union boxes whose
    bounding boxes come within (BLOCK_GAP_X, BLOCK_GAP_Y) of each other,
    repeat via union-find, return merged boxes in reading order.  This
    is the classic morphological-dilation-then-CC step expressed on
    boxes (#glyphs², fine at page scale — pages are batch-grain units)."""
    n = len(boxes)
    parent = list(range(n))

    def find(i: int) -> int:
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    for i in range(n):
        x1a, y1a, x2a, y2a = boxes[i]
        for j in range(i + 1, n):
            x1b, y1b, x2b, y2b = boxes[j]
            if (
                x1b <= x2a + BLOCK_GAP_X
                and x1a <= x2b + BLOCK_GAP_X
                and y1b <= y2a + BLOCK_GAP_Y
                and y1a <= y2b + BLOCK_GAP_Y
            ):
                ra, rb = find(i), find(j)
                if ra != rb:
                    parent[rb] = ra
    groups: dict[int, list[int]] = {}
    for i, b in enumerate(boxes):
        r = find(i)
        if r in groups:
            g = groups[r]
            g[0] = min(g[0], b[0])
            g[1] = min(g[1], b[1])
            g[2] = max(g[2], b[2])
            g[3] = max(g[3], b[3])
        else:
            groups[r] = list(b)
    return sorted(
        ((g[0], g[1], g[2], g[3]) for g in groups.values()),
        key=lambda b: (b[1], b[0]),
    )


BLOCK_SCHEMA = (
    "media_ref string, block_idx int, x1 int, y1 int, x2 int, y2 int, "
    "decode_err string"
)


def detect_page_blocks(media: DataFrame) -> DataFrame:
    """(media_ref, payload binary, …) → one row per detected text
    BLOCK: decode → Otsu binarize → run-based connected components →
    proximity merge, through :func:`..execution.decode_payloads`.  The
    pixels→boxes stand-in for the reference's GPU layout model
    (``DocLayout``): downstream the boxes feed the same column-assignment
    / reading-order chain (``operators/layout.py``) the reference feeds
    model detections."""
    from .multimodal import decode_image

    def rows(b: bytes):
        page, _t = binarize_otsu(decode_image(b))
        blocks = merge_nearby_boxes(connected_component_boxes(page))
        for i, (x1, y1, x2, y2) in enumerate(blocks):
            yield i, int(x1), int(y1), int(x2), int(y2), None

    return decode_payloads(
        media, BLOCK_SCHEMA, ("media_ref",), rows, (-1, 0, 0, 0, 0)
    )


# -------------------------------------------------- XY-cut reading order
def xy_cut_order(boxes: list[tuple[int, int, int, int]]) -> list[int]:
    """Recursive XY-cut reading order over (x1, y1, x2, y2) boxes — the
    north rule's prescribed multi-column ordering.  Vertical cuts are
    PREFERRED (any x-projection gap ≥ 2 px → left group reads fully
    before right, the newspaper column convention); otherwise the
    TOPMOST y-projection gap cuts top-before-bottom — taking the
    topmost (not widest) gap lets a full-width banner peel off first so
    the columns underneath still read column-major; raster (y1, x1)
    order is the no-gap fallback.  Returns the permutation of input
    indices in reading order."""

    def gaps(idxs: list[int], lo_k: int, hi_k: int) -> list[tuple[int, int]]:
        spans = sorted((boxes[i][lo_k], boxes[i][hi_k]) for i in idxs)
        merged = [list(spans[0])]
        for lo, hi in spans[1:]:
            if lo <= merged[-1][1] + 1:
                merged[-1][1] = max(merged[-1][1], hi)
            else:
                merged.append([lo, hi])
        return [
            (merged[i][1] + 1, merged[i + 1][0] - 1)
            for i in range(len(merged) - 1)
        ]

    def rec(idxs: list[int]) -> list[int]:
        if len(idxs) <= 1:
            return idxs
        xg = [g for g in gaps(idxs, 0, 2) if g[1] - g[0] + 1 >= 2]
        if xg:  # vertical cut at the LEFTMOST gutter: left reads first
            mid = (xg[0][0] + xg[0][1]) // 2
            left = [i for i in idxs if boxes[i][2] <= mid]
            right = [i for i in idxs if boxes[i][2] > mid]
            return rec(left) + rec(right)
        yg = [g for g in gaps(idxs, 1, 3) if g[1] - g[0] + 1 >= 2]
        if yg:  # horizontal cut at the TOPMOST gap: banner peels first
            mid = (yg[0][0] + yg[0][1]) // 2
            top = [i for i in idxs if boxes[i][3] <= mid]
            bottom = [i for i in idxs if boxes[i][3] > mid]
            return rec(top) + rec(bottom)
        return sorted(idxs, key=lambda i: (boxes[i][1], boxes[i][0]))

    return rec(list(range(len(boxes))))


def add_xy_cut_order(blocks: DataFrame) -> DataFrame:
    """Per-page XY-cut: assigns ``reading_order`` (1-based) to each
    block row via ``applyInPandas`` grouped on ``media_ref`` — one
    page's boxes are one group, the exact granularity the recursion
    needs; quarantined rows (block_idx = -1) keep order 0."""

    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in blocks.schema.fields
    ) + ", reading_order int"

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        good = pdf[pdf["block_idx"] >= 0]
        order = xy_cut_order(list(zip(good["x1"], good["y1"], good["x2"], good["y2"])))
        rank = {good.index[i]: pos + 1 for pos, i in enumerate(order)}
        pdf = pdf.copy()
        pdf["reading_order"] = [rank.get(i, 0) for i in pdf.index]
        return pdf

    return blocks.groupBy("media_ref").applyInPandas(fn, schema=schema)
