"""Geometric layout post-processing (vectorized numpy).

Behavioral parity with /root/reference/glmocr/utils/layout_postprocess_utils.py
(iou :7-28, nms :31-61, is_contained :64-77, check_containment :80-113,
unclip_boxes :116-176, oversize filter :242-264, order sort :332-333,
clamp/drop :361-369) — re-implemented, not copied: the hot paths here are
fully vectorized (pairwise IoU matrices) where the reference uses per-pair
Python loops, because inside an Arrow batch we may carry many turns' blocks.

Boxes are numpy float arrays of shape (n, 7): columns
(cls_id, score, x1, y1, x2, y2, order).
"""

from __future__ import annotations

import numpy as np

from glm_ocr_spark.config import (
    CONTAINMENT_OVERLAP_RATIO,
    NMS_IOU_DIFF,
    NMS_IOU_SAME,
    OVERSIZE_AREA_THRESHOLD_LANDSCAPE,
    OVERSIZE_AREA_THRESHOLD_PORTRAIT,
    PRESERVE_CLASS_IDS,
)
# called through this module's global: the stage tracer wraps it by name
from glm_ocr_spark.kernel.geometry_py import xy_cut_order

CLS, SCORE, X1, Y1, X2, Y2, ORDER = range(7)


def pairwise_iou(coords: np.ndarray) -> np.ndarray:
    """All-pairs IoU with the reference's +1 pixel convention
    (layout_postprocess_utils.py:19-26). coords: (n, 4)."""
    x1 = coords[:, 0]
    y1 = coords[:, 1]
    x2 = coords[:, 2]
    y2 = coords[:, 3]
    xi1 = np.maximum(x1[:, None], x1[None, :])
    yi1 = np.maximum(y1[:, None], y1[None, :])
    xi2 = np.minimum(x2[:, None], x2[None, :])
    yi2 = np.minimum(y2[:, None], y2[None, :])
    with np.errstate(divide="ignore", invalid="ignore"):
        inter = np.maximum(0.0, xi2 - xi1 + 1) * np.maximum(0.0, yi2 - yi1 + 1)
        area = (x2 - x1 + 1) * (y2 - y1 + 1)
        union = area[:, None] + area[None, :] - inter
        return inter / union


def nms(boxes: np.ndarray, iou_same: float = NMS_IOU_SAME,
        iou_diff: float = NMS_IOU_DIFF) -> np.ndarray:
    """Greedy dual-threshold NMS; returns kept row indices in pick order.

    Matches the reference exactly incl. tie-breaking: scores sorted with
    ``np.argsort(scores)[::-1]`` (stable ascending sort reversed, so equal
    scores pick the *later* original index first — layout_postprocess_utils.py:37).
    """
    n = len(boxes)
    if n == 0:
        return np.empty(0, dtype=np.int64)
    order = np.argsort(boxes[:, SCORE], kind="stable")[::-1]
    iou_mat = pairwise_iou(boxes[:, X1:Y2 + 1])
    same_cls = boxes[:, CLS][:, None] == boxes[:, CLS][None, :]
    thr = np.where(same_cls, iou_same, iou_diff)
    # reference keeps j only when iou < thr (layout_postprocess_utils.py:58);
    # phrased as NOT(iou < thr) so a NaN IoU (degenerate/inf boxes)
    # suppresses, exactly like the Python comparison does
    suppress_mat = ~(iou_mat < thr)

    alive = np.ones(n, dtype=bool)
    kept: list[int] = []
    for idx in order:
        if not alive[idx]:
            continue
        kept.append(int(idx))
        alive &= ~suppress_mat[idx]
        alive[idx] = False
    return np.asarray(kept, dtype=np.int64)


def containment_matrix(boxes: np.ndarray) -> np.ndarray:
    """(n, n) bool: M[i, j] = box i is >=0.8 contained in box j
    (layout_postprocess_utils.py:64-77; note *no* +1 convention here)."""
    x1 = boxes[:, X1]
    y1 = boxes[:, Y1]
    x2 = boxes[:, X2]
    y2 = boxes[:, Y2]
    area = (x2 - x1) * (y2 - y1)
    xi1 = np.maximum(x1[:, None], x1[None, :])
    yi1 = np.maximum(y1[:, None], y1[None, :])
    xi2 = np.minimum(x2[:, None], x2[None, :])
    yi2 = np.minimum(y2[:, None], y2[None, :])
    inter = np.maximum(0.0, xi2 - xi1) * np.maximum(0.0, yi2 - yi1)
    with np.errstate(divide="ignore", invalid="ignore"):
        ratio = np.where(area[:, None] > 0, inter / area[:, None], 0.0)
    m = ratio >= CONTAINMENT_OVERLAP_RATIO
    np.fill_diagonal(m, False)
    return m


def apply_merge_modes(boxes: np.ndarray, merge_modes: dict[int, str],
                      preserve_ids: frozenset[int]) -> np.ndarray:
    """Per-class containment filtering (layout_postprocess_utils.py:295-325).

    For each (category, mode) pair the reference recomputes containment with
    mode-specific masking and ANDs keep masks; 'large' drops boxes contained
    in a box of that category, 'small' drops boxes of that category that
    contain others unless themselves contained. Preserve-set boxes are never
    marked as contained (check_containment :97-99). Returns keep-row indices.
    """
    n = len(boxes)
    if n == 0:
        return np.empty(0, dtype=np.int64)
    base = containment_matrix(boxes)  # i contained in j
    cls = boxes[:, CLS].astype(np.int64)
    preserved = np.zeros(n, dtype=bool)
    for pid in preserve_ids:
        preserved |= cls == pid
    # reference skips pairs where box i is preserved (i never "contained")
    contained = base & ~preserved[:, None]

    keep = np.ones(n, dtype=bool)
    # All 'large' categories batch into one matrix op: the per-category AND
    # of "not contained in a box of category c" over c in L is exactly
    # "not contained in any box whose class is in L".
    large_cats = [c for c, m in merge_modes.items() if m == "large"]
    if large_cats:
        lut = np.zeros(max(max(large_cats), int(cls.max())) + 1, dtype=bool)
        lut[large_cats] = True
        j_is_large = lut[cls]
        keep &= ~(contained & j_is_large[None, :]).any(axis=1)
    for category, mode in merge_modes.items():
        if mode == "small":
            # pairs (i contained in j) where i is this category
            pair = contained & (cls[:, None] == category)
            contained_by_other = pair.any(axis=1)
            contains_other = pair.any(axis=0)
            keep &= (~contains_other) | contained_by_other
    return np.nonzero(keep)[0].astype(np.int64)


def filter_oversized_images(boxes: np.ndarray, image_cls_id: int,
                            page_w: float, page_h: float) -> np.ndarray:
    """Drop image-class boxes covering most of the page
    (layout_postprocess_utils.py:242-264). Only applies when >1 box; if it
    would drop everything, keeps the original set (reference :263-264).
    Returns keep-row indices."""
    n = len(boxes)
    if n <= 1:
        return np.arange(n, dtype=np.int64)
    thr = (OVERSIZE_AREA_THRESHOLD_LANDSCAPE if page_w > page_h
           else OVERSIZE_AREA_THRESHOLD_PORTRAIT)
    page_area = page_w * page_h
    is_img = boxes[:, CLS].astype(np.int64) == image_cls_id
    cx1 = np.maximum(0.0, boxes[:, X1])
    cy1 = np.maximum(0.0, boxes[:, Y1])
    cx2 = np.minimum(page_w, boxes[:, X2])
    cy2 = np.minimum(page_h, boxes[:, Y2])
    area = (cx2 - cx1) * (cy2 - cy1)
    keep = ~is_img | (area <= thr * page_area)
    idx = np.nonzero(keep)[0]
    if len(idx) == 0:
        return np.arange(n, dtype=np.int64)
    return idx.astype(np.int64)


def unclip(boxes: np.ndarray,
           ratio: tuple[float, float] | dict[int, tuple[float, float]] | None,
           ) -> np.ndarray:
    """Expand boxes about their centers (layout_postprocess_utils.py:116-176).

    `ratio` forms mirror the reference `unclip_boxes`:
      - None or (1.0, 1.0): no-op;
      - (w_ratio, h_ratio): applied to every box (:160-176);
      - {cls_id: (w_ratio, h_ratio)}: applied only to boxes of the listed
        classes, others pass through untouched (:131-157).
    """
    if ratio is None or ratio == (1.0, 1.0):
        return boxes
    if not isinstance(ratio, dict):
        return _scale_about_center(boxes, ratio)
    out = boxes.copy()
    cls = boxes[:, CLS].astype(np.int64)
    for cid, pair in ratio.items():
        if pair != (1.0, 1.0):
            m = cls == cid
            out[m] = _scale_about_center(boxes[m], pair)
    return out


def _scale_about_center(boxes: np.ndarray,
                        ratio: tuple[float, float]) -> np.ndarray:
    out = boxes.copy()
    w = boxes[:, X2] - boxes[:, X1]
    h = boxes[:, Y2] - boxes[:, Y1]
    cx = boxes[:, X1] + w / 2
    cy = boxes[:, Y1] + h / 2
    nw = w * ratio[0]
    nh = h * ratio[1]
    out[:, X1] = cx - nw / 2
    out[:, Y1] = cy - nh / 2
    out[:, X2] = cx + nw / 2
    out[:, Y2] = cy + nh / 2
    return out


def clamp_and_validate(boxes: np.ndarray, page_w: float,
                       page_h: float) -> tuple[np.ndarray, np.ndarray]:
    """Clamp coords to page, int-truncate, drop degenerate boxes
    (layout_postprocess_utils.py:361-369 + coordinate int() at :396).
    Returns (clamped int boxes, keep-row indices)."""
    out = boxes.copy()
    out[:, X1] = np.clip(out[:, X1], 0, page_w)
    out[:, X2] = np.clip(out[:, X2], 0, page_w)
    out[:, Y1] = np.clip(out[:, Y1], 0, page_h)
    out[:, Y2] = np.clip(out[:, Y2], 0, page_h)
    keep = np.nonzero((out[:, X1] < out[:, X2]) & (out[:, Y1] < out[:, Y2]))[0]
    out[:, X1:Y2 + 1] = np.trunc(out[:, X1:Y2 + 1])
    return out, keep.astype(np.int64)


def survivors_numpy(rows: list[tuple], spans: list, config,
                    image_cls_id: int, page_w: float, page_h: float,
                    has_order: bool) -> list[tuple]:
    """The geometry chain (NMS -> oversized filter -> merge modes ->
    reading order -> unclip -> clamp/validate) stage by stage on one
    (n, 7) array: the dense-page counterpart of geometry_py.survivors_small,
    same arguments and result, [(cls_id:int, score, x1, y1, x2, y2, span)]
    with clamped int-truncated float coords in final reading order.
    Equivalence is enforced by tests/test_geometry_paths.py."""
    arr = np.array(rows, dtype=np.float64)
    pos = np.arange(len(arr))

    def take(idx) -> None:
        nonlocal arr, pos
        arr = arr[idx]
        pos = pos[idx]

    if config.nms_enabled:
        take(nms(arr))
    take(filter_oversized_images(arr, image_cls_id, page_w, page_h))
    take(apply_merge_modes(arr, config.merge_modes, PRESERVE_CLASS_IDS))
    if len(arr) == 0:
        return []
    if has_order:
        take(np.argsort(arr[:, ORDER], kind="stable"))
    else:
        take(xy_cut_order(arr.tolist()))
    arr, keep = clamp_and_validate(unclip(arr, config.unclip_ratio),
                                   page_w, page_h)
    take(keep)
    return [(int(r[CLS]), r[SCORE], r[X1], r[Y1], r[X2], r[Y2], spans[i])
            for r, i in zip(arr.tolist(), pos.tolist())]
