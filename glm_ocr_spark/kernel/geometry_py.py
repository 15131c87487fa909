"""Small-n geometry fast path (pure Python, tuple-based).

Layout pages carry ~5-30 blocks; at that size numpy's per-call overhead
costs more than the math, while on dense pages the vectorized chain wins.
survivors_small mirrors glm_ocr_spark.kernel.geometry.survivors_numpy
exactly (same IEEE-double arithmetic, same tie-breaking, same thresholds)
on parallel tuples instead of arrays; extract_turn dispatches here for
n <= SMALL_N and to the vectorized chain above it. Equivalence between the
two paths is enforced by a dedicated randomized test
(tests/test_geometry_paths.py) on top of the kernel-vs-oracle gate.
xy_cut_order is the one reading-order implementation; the numpy chain
calls it too.

Row format: tuple (cls_id, score, x1, y1, x2, y2, order) of Python numbers.
"""

from __future__ import annotations

from glm_ocr_spark.config import (
    CONTAINMENT_OVERLAP_RATIO,
    NMS_IOU_DIFF,
    NMS_IOU_SAME,
    OVERSIZE_AREA_THRESHOLD_LANDSCAPE,
    OVERSIZE_AREA_THRESHOLD_PORTRAIT,
    PRESERVE_CLASS_IDS,
)

SMALL_N = 64


def _contained_in(a, b) -> bool:
    """a >= 0.8-contained in b (no +1 convention)."""
    area = (a[4] - a[2]) * (a[5] - a[3])
    if area <= 0:
        return False
    iw = min(a[4], b[4]) - max(a[2], b[2])
    if iw <= 0:
        return False
    ih = min(a[5], b[5]) - max(a[3], b[3])
    if ih <= 0:
        return False
    return (iw * ih) / area >= CONTAINMENT_OVERLAP_RATIO


def survivors_small(rows: list[tuple], spans: list, config,
                    image_cls_id: int, page_w: float, page_h: float,
                    has_order: bool) -> list[tuple]:
    """The whole small-n geometry pipeline (NMS -> oversized filter ->
    merge modes -> reading order -> unclip -> clamp/validate) fused into
    one index-based pass: stage-identical semantics to
    geometry.survivors_numpy (equivalence enforced by
    tests/test_geometry_paths.py), but with a single survivors
    materialization at the end.

    Returns [(cls_id:int, score, x1, y1, x2, y2, span), ...] with clamped
    int-truncated float coords, in final reading order.
    """
    n = len(rows)

    # ---- NMS (the working order becomes the score-desc pick order of
    # geometry.nms; a zero-union pair suppresses, as its NaN IoU does) ----
    if config.nms_enabled:
        iou_same = NMS_IOU_SAME
        iou_diff = NMS_IOU_DIFF
        # score-desc, later index first on ties: stable reverse sort over
        # descending indices == sorted(..., key=lambda i: (-score, -i))
        scores = [r[1] for r in rows]
        order = sorted(range(n - 1, -1, -1), key=scores.__getitem__,
                       reverse=True)
        # candidate-vs-kept formulation of the same greedy dual-threshold
        # NMS: a candidate is dropped iff it trips the threshold against
        # an earlier-KEPT box (boxes dropped earlier never suppress — in
        # the remaining-set formulation they left the pool the moment a
        # kept box removed them, so the pair sets tested are identical);
        # per-box +1 areas hoisted out of the pair loop
        areas = [(r[4] - r[2] + 1) * (r[5] - r[3] + 1) for r in rows]
        idx: list[int] = []
        for c in order:
            b = rows[c]
            bc = b[0]
            bx1 = b[2]
            by1 = b[3]
            bx2 = b[4]
            by2 = b[5]
            ba = areas[c]
            for k in idx:
                a = rows[k]
                ix1 = a[2] if a[2] > bx1 else bx1
                iy1 = a[3] if a[3] > by1 else by1
                ix2 = a[4] if a[4] < bx2 else bx2
                iy2 = a[5] if a[5] < by2 else by2
                iw = ix2 - ix1 + 1
                ih = iy2 - iy1 + 1
                inter = iw * ih if iw > 0 and ih > 0 else 0.0
                den = areas[k] + ba - inter
                # phrased as NOT(iou < thr), as in geometry.nms: a NaN IoU
                # (inf - inf on unbounded boxes) suppresses
                if den == 0 or not inter / den < (
                        iou_same if bc == a[0] else iou_diff):
                    break
            else:
                idx.append(c)
    else:
        idx = list(range(n))

    # ---- oversized-image filter (keeps working order; all-oversized
    # degenerate case keeps everything, as in
    # geometry.filter_oversized_images) ----
    if len(idx) > 1:
        thr = (OVERSIZE_AREA_THRESHOLD_LANDSCAPE if page_w > page_h
               else OVERSIZE_AREA_THRESHOLD_PORTRAIT)
        limit = thr * page_w * page_h
        out = []
        for i in idx:
            r = rows[i]
            if r[0] == image_cls_id:
                x1 = r[2] if r[2] > 0 else 0.0
                y1 = r[3] if r[3] > 0 else 0.0
                x2 = r[4] if r[4] < page_w else page_w
                y2 = r[5] if r[5] < page_h else page_h
                if (x2 - x1) * (y2 - y1) <= limit:
                    out.append(i)
            else:
                out.append(i)
        if out:
            idx = out

    # ---- containment merge modes (positional keep flags over the current
    # working list, exactly like geometry.apply_merge_modes on a
    # materialized list: the small pass pairs over ALL current members, not
    # just large-pass survivors) ----
    m = len(idx)
    if m > 1:  # a single box can neither contain nor be contained
        preserve_ids = PRESERVE_CLASS_IDS
        # membership checks drop the int() casts — float cls ids
        # hash/compare equal to their int values
        large = config.merge_large_ids
        small = config.merge_small_ids
        keep = [True] * m
        large_ps = [p for p in range(m) if rows[idx[p]][0] in large]
        ratio = CONTAINMENT_OVERLAP_RATIO
        for p in range(m):
            ri = rows[idx[p]]
            if ri[0] in preserve_ids:
                continue
            ax1, ay1, ax2, ay2 = ri[2], ri[3], ri[4], ri[5]
            area = (ax2 - ax1) * (ay2 - ay1)
            if area <= 0:
                continue
            for q in large_ps:
                if p == q:
                    continue
                rj = rows[idx[q]]
                iw = ((ax2 if ax2 < rj[4] else rj[4])
                      - (ax1 if ax1 > rj[2] else rj[2]))
                if iw <= 0:
                    continue
                ih = ((ay2 if ay2 < rj[5] else rj[5])
                      - (ay1 if ay1 > rj[3] else rj[3]))
                if ih <= 0:
                    continue
                if (iw * ih) / area >= ratio:
                    keep[p] = False
                    break
        for category in small:
            contained_by_other = [False] * m
            contains_other = [False] * m
            for p in range(m):
                ri = rows[idx[p]]
                if ri[0] != category or ri[0] in preserve_ids:
                    continue
                for q in range(m):
                    if p == q:
                        continue
                    if _contained_in(ri, rows[idx[q]]):
                        contained_by_other[p] = True
                        contains_other[q] = True
            for p in range(m):
                keep[p] = keep[p] and ((not contains_other[p])
                                       or contained_by_other[p])
        idx = [i for p, i in enumerate(idx) if keep[p]]

    if not idx:
        return []

    # ---- reading order (stable by the working/score order on ties) ----
    if has_order:
        ordv = [r[6] for r in rows]
        idx.sort(key=ordv.__getitem__)
    else:
        sub = [rows[i] for i in idx]
        idx = [idx[p] for p in xy_cut_order(sub)]

    # ---- unclip (default no-op; per-class dict form leaves unlisted
    # classes untouched) + clamp/validate + survivors ----
    ratio = config.unclip_ratio
    if ratio == (1.0, 1.0):
        ratio = None
    per_class = isinstance(ratio, dict)
    out_rows: list[tuple] = []
    for i in idx:
        r = rows[i]
        ax1, ay1, ax2, ay2 = r[2], r[3], r[4], r[5]
        pair = ratio.get(int(r[0])) if per_class else ratio
        if pair is not None and pair != (1.0, 1.0):
            w = ax2 - ax1
            h = ay2 - ay1
            cx = ax1 + w / 2
            cy = ay1 + h / 2
            nw = w * pair[0]
            nh = h * pair[1]
            ax1, ay1, ax2, ay2 = (cx - nw / 2, cy - nh / 2,
                                  cx + nw / 2, cy + nh / 2)
        x1 = 0.0 if ax1 < 0.0 else (page_w if ax1 > page_w else ax1)
        x2 = 0.0 if ax2 < 0.0 else (page_w if ax2 > page_w else ax2)
        y1 = 0.0 if ay1 < 0.0 else (page_h if ay1 > page_h else ay1)
        y2 = 0.0 if ay2 < 0.0 else (page_h if ay2 > page_h else ay2)
        if not (x1 < x2 and y1 < y2):  # degenerate, or NaN from unclip
            continue
        out_rows.append((int(r[0]), r[1], float(int(x1)), float(int(y1)),
                         float(int(x2)), float(int(y2)), spans[i]))
    return out_rows


def xy_cut_order(rows: list[tuple]) -> list[int]:
    """Recursive XY-cut reading order over (cls, score, x1, y1, x2, y2,
    ...) rows; returns a permutation of row indices in reading order. Both
    geometry paths use it.

    The reference's reading order comes from the detector model's order_seq
    (layout_postprocess_utils.py:332-333); the north rule replaces the model
    with a CPU heuristic: alternate horizontal/vertical gap splits, leaves
    ordered top-to-bottom then left-to-right.
    """
    n = len(rows)
    if n <= 1:
        return list(range(n))
    # normalized spans: an inverted box (x1 > x2) would put the cut outside
    # every interval start, so one group would swallow the whole set and
    # the recursion would never end
    xs = [(min(r[2], r[4]), max(r[2], r[4])) for r in rows]
    ys = [(min(r[3], r[5]), max(r[3], r[5])) for r in rows]

    def gaps(sub: list[int], spans) -> list[float]:
        order = sorted(sub, key=lambda k: spans[k][0])
        cuts = []
        cover = spans[order[0]][1]
        for k in order[1:]:
            lo, hi = spans[k]
            if lo > cover:
                cuts.append((cover + lo) / 2.0)
            if hi > cover:
                cover = hi
        return cuts

    def rec(sub: list[int], axis_first: int) -> list[int]:
        if len(sub) <= 1:
            return sub
        for axis in (axis_first, 1 - axis_first):
            spans = ys if axis == 0 else xs
            cuts = gaps(sub, spans)
            if cuts:
                groups = []
                prev = float("-inf")
                for c in cuts + [float("inf")]:
                    grp = [k for k in sub if prev < spans[k][0] <= c]
                    if grp:
                        groups.append(grp)
                    prev = c
                if len(groups) >= 2:
                    out: list[int] = []
                    for g in groups:
                        out.extend(rec(g, 1 - axis))
                    return out
        return sorted(sub, key=lambda k: (ys[k][0], xs[k][0]))

    return rec(list(range(n)), 0)
