"""extract_turn: one turn payload -> (extracted_text, spans, markdown, json).

The full per-turn dataflow, mirroring the reference's
Pipeline.process (layout-on path, /root/reference/glmocr/pipeline/pipeline.py:282-605):

  segment (detector stand-in)                 layout_detector.py:155-251
  -> score threshold filter (F1)              layout_detector.py:92-153
  -> NMS 0.6/0.98 (F3)                        layout_postprocess_utils.py:31-61, 238
  -> oversized-image filter (F4)              layout_postprocess_utils.py:242-264
  -> per-class containment modes (F5)         layout_postprocess_utils.py:267-325
  -> reading-order sort (O1; model order or XY-cut)  :332-333
  -> unclip (T11, default no-op)              :335-349
  -> clamp + degenerate drop (F8)             :361-369
  -> task mapping + abandon drop (F6) + 0-1000 normalize + dense index
                                              layout_detector.py:271-315
  -> recognition (skip -> None content) (F7)  pipeline.py:441-462
  -> ResultFormatter semantics (T/J/A ops)    result_formatter.py:135-212

Per-turn work is pure and independent: the Spark layer runs this inside
mapInArrow with zero shuffle.
"""

from __future__ import annotations

from glm_ocr_spark.config import (
    LABEL2ID,
    LABEL_TO_TASK,
    LAYOUT_MERGE_BBOXES_MODE,
    LAYOUT_UNCLIP_RATIO,
    SCORE_THRESHOLD,
    SCORE_THRESHOLD_BY_CLASS,
)
from glm_ocr_spark.kernel import geometry as geo
from glm_ocr_spark.kernel import geometry_py as gpy
from glm_ocr_spark.kernel.formatter import (
    finalize_page,
    format_bullet_points,
    merge_formula_numbers,
    merge_text_blocks,
)
from glm_ocr_spark.kernel.textproc import format_content, map_label
from glm_ocr_spark.kernel.recognize import recognize
from glm_ocr_spark.kernel.segment import segment

# extract_turn calls segment through this second name: the stage tracer
# wraps both names, and counts pages on this one
segment_rows = segment

_IMAGE_CLS_ID = LABEL2ID["image"]
id2label = {v: k for k, v in LABEL2ID.items()}

# dense per-class lookup tables for the region build (cls ids are
# 0..len-1 by construction in config.LABEL2ID)
_N_CLS = max(LABEL2ID.values()) + 1
_TASK_BY_CLS = [None] * _N_CLS
_VIS_BY_CLS = [None] * _N_CLS
for _lab, _cls in LABEL2ID.items():
    _TASK_BY_CLS[_cls] = LABEL_TO_TASK.get(_lab)
    _VIS_BY_CLS[_cls] = map_label(_lab)
del _lab, _cls


class ExtractConfig:
    """Runtime-tunable extraction knobs, mirroring the reference's layout
    config (config.yaml:183-233: threshold, threshold_by_class, layout_nms,
    layout_unclip_ratio, layout_merge_bboxes_mode). Ships to executors
    inside the UDF closure; defaults reproduce GLM-OCR's shipped config."""

    __slots__ = ("score_threshold", "score_threshold_by_class", "nms_enabled",
                 "unclip_ratio", "merge_modes", "merge_large_ids",
                 "merge_small_ids")

    def __init__(self, score_threshold: float = SCORE_THRESHOLD,
                 score_threshold_by_class: dict[int, float] | None = None,
                 nms_enabled: bool = True,
                 unclip_ratio: tuple[float, float] = LAYOUT_UNCLIP_RATIO,
                 merge_modes: dict[int, str] | None = None):
        self.score_threshold = score_threshold
        self.score_threshold_by_class = (
            dict(SCORE_THRESHOLD_BY_CLASS) if score_threshold_by_class is None
            else score_threshold_by_class)
        self.nms_enabled = nms_enabled
        self.unclip_ratio = unclip_ratio
        self.merge_modes = (dict(LAYOUT_MERGE_BBOXES_MODE) if merge_modes is None
                            else merge_modes)
        # derived once: geometry_py.survivors_small consumes these instead
        # of re-deriving the large/small class sets per page
        self.merge_large_ids = frozenset(
            c for c, m in self.merge_modes.items() if m == "large")
        self.merge_small_ids = tuple(
            c for c, m in self.merge_modes.items() if m == "small")


DEFAULT_CONFIG = ExtractConfig()

_EMPTY = {
    "extracted_text": "",
    "markdown": "",
    "json": "[[]]",
    "spans": [],
    "n_blocks": 0,
}


def extract_turn_ocr_only(payload: str | None) -> dict:
    """Layout-off path: the whole payload is one region, markup-stripped and
    cleaned — parity with ResultFormatter.format_ocr_result
    (/root/reference/glmocr/postprocess/result_formatter.py:70-98): one
    region dict {index: 0, label: 'text', content, bbox_2d: None} per page,
    markdown = content. Multi-page join ('\\n\\n---\\n\\n') happens at the
    conversation level (pipeline.ocr_only_conversation_markdown)."""
    import json as _json

    from glm_ocr_spark.kernel.recognize import strip_markup
    from glm_ocr_spark.kernel.textproc import clean_content

    content = clean_content(strip_markup(payload)) if payload else ""
    json_str = _json.dumps(
        [[{"index": 0, "label": "text", "content": content, "bbox_2d": None}]],
        ensure_ascii=False,
    )
    span = [(0, len(payload), "text")] if payload else []
    return {
        "extracted_text": content,
        "markdown": content,
        "json": json_str,
        "spans": span,
        "n_blocks": 1 if content else 0,
    }


def extract_turn(payload: str | None, *, segmenter=None,
                 recognizer=None, formatter=None,
                 config: ExtractConfig = DEFAULT_CONFIG) -> dict:
    """Extract main content from one turn payload.

    Returns dict with:
      extracted_text: str  — non-image block contents joined '\\n\\n'
      markdown: str        — reference-format markdown (incl. image refs)
      json: str            — reference-format json_result string
      spans: list[(start, end, label)] — surviving blocks' char spans in
                                         reading order (provenance)
      n_blocks: int        — surviving block count

    Extension surface (the reference's pluggable-component pattern:
    BaseLayoutDetector ABC glmocr/layout/base.py:13-52, custom
    ResultFormatter/BasePostProcessor README.md:292-309, task prompt
    dispatch config.yaml:124-133):
      segmenter(payload) -> (page_w, page_h, rows, spans, has_order)
          detector override, replacing `kernel.segment.segment` (the
          one parse of both payload forms); rows = [(cls_id, score, x1,
          y1, x2, y2, order)], spans the parallel (start, end) char
          offsets, has_order False to order by XY-cut
      recognizer(payload, span, task_type) -> str|None — per-task content
      formatter(regions) -> regions — post-process hook over the final
          formatted regions (index, label, native_label, content, bbox_2d,
          span), run before serialization
    Defaults reproduce GLM-OCR semantics; overrides swap one stage without
    touching the distributed plumbing.
    """
    if not payload:
        return dict(_EMPTY)

    page_w, page_h, rows, spans, has_order = (
        (segmenter or segment_rows)(payload))
    if not rows:
        return dict(_EMPTY)

    # ---- F1: score threshold (global + per-class), applied in place ----
    thr_by_class = config.score_threshold_by_class
    thr = config.score_threshold
    if thr_by_class:
        idx = [i for i, r in enumerate(rows)
               if r[1] >= thr_by_class.get(r[0], thr)]
        if not idx:
            return dict(_EMPTY)
        if len(idx) != len(rows):
            rows = [rows[i] for i in idx]
            spans = [spans[i] for i in idx]
    elif not all(r[1] >= thr for r in rows):
        # the all-pass common case costs one scan, no index list
        idx = [i for i, r in enumerate(rows) if r[1] >= thr]
        if not idx:
            return dict(_EMPTY)
        rows = [rows[i] for i in idx]
        spans = [spans[i] for i in idx]

    # ---- geometry: the fused pure-Python chain at typical block counts
    # (numpy's per-call overhead dominates there), the vectorized chain on
    # dense pages; identical IEEE-double semantics, equivalence enforced by
    # tests/test_geometry_paths.py ----
    geometry = (gpy.survivors_small if len(rows) <= gpy.SMALL_N
                else geo.survivors_numpy)
    survivors = geometry(rows, spans, config, _IMAGE_CLS_ID,
                         page_w, page_h, has_order)
    if not survivors:
        return dict(_EMPTY)

    # ---- task mapping + abandon drop + 0-1000 normalize + recognition
    # (F7: skip -> None) + ResultFormatter's per-region body in ONE pass,
    # regions built directly in their final shape (no dict copies, no
    # re-sort — survivors are already in reading order and indices dense
    # by construction). The three sequence merges are gated on flags
    # computed during the pass; each gate is exact: gate False implies the
    # merge function is the identity. Parity with the oracle is enforced
    # by tests/test_extract_vs_oracle.py and
    # tests/test_fuzz_kernel_vs_oracle.py. ----
    rec = recognizer or recognize
    task_by_cls = _TASK_BY_CLS
    vis_by_cls = _VIS_BY_CLS
    nat_by_cls = id2label
    page: list[dict] = []
    has_fnum = has_hyphen = has_bullet = False
    vi = 0
    for cls_id, score, x1, y1, x2, y2, span in survivors:
        task_type = task_by_cls[cls_id]
        if task_type is None or task_type == "abandon":
            continue
        native = nat_by_cls[cls_id]
        label = vis_by_cls[cls_id]
        content = format_content(rec(payload, span, task_type),
                                 label, native)
        if content is not None:
            if content.strip() == "":
                continue
            if label == "text":
                if content.endswith("-"):
                    has_hyphen = True
            if native == "text" and content.startswith("- "):
                has_bullet = True
        if native == "formula_number":
            has_fnum = True
        page.append({
            "index": vi,
            "label": label,
            "native_label": native,
            "content": content,
            "bbox_2d": [
                int(x1 / page_w * 1000),
                int(y1 / page_h * 1000),
                int(x2 / page_w * 1000),
                int(y2 / page_h * 1000),
            ],
            "span": span,
        })
        vi += 1
    if has_fnum:
        page = merge_formula_numbers(page)
    if has_hyphen:
        page = merge_text_blocks(page)
    if has_bullet and len(page) >= 3:
        page = format_bullet_points(page)
    if formatter is not None:
        page = formatter(page)

    json_str, markdown_str, extracted_text, out_spans = finalize_page(page)
    return {
        "extracted_text": extracted_text,
        "markdown": markdown_str,
        "json": json_str,
        "spans": out_spans,
        "n_blocks": len(page),
    }
