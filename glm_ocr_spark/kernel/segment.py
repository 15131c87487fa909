"""Payload segmentation: turn text -> candidate layout blocks with char spans.

This is the CPU stand-in for the reference's layout-detection model
(/root/reference/glmocr/layout/layout_detector.py:155-317). A turn's `text`
payload is an HTML-ish document in one of two forms:

1. **Annotated form** — the payload carries detector-style candidate blocks:
   ``<block label="text" score="0.91" bbox="50,120,950,160" order="2">...</block>``
   (the analog of the model's raw detections: noisy, overlapping, unordered).
   Optional ``<page w="W" h="H"/>`` sets the page size (default 1000x1000).

2. **Plain DOM form** — ordinary tags (``h1 h2 h3 p table header footer nav
   aside pre figcaption img``) and blank-line-separated paragraphs. Labels are
   inferred from tags/content, scores from Arc90/trafilatura-style
   text-length + link-density features, geometry synthesized top-to-bottom.

One function, `segment`, parses both forms and yields one tuple:
(page_w, page_h, rows, spans, has_order), rows = [(cls_id, score, x1, y1,
x2, y2, order)] in page coords, spans the parallel (start, end) char
offsets of each block's content in the payload, has_order False when the
page carries no complete reading order. Annotated blocks are found by one
regex in one pass, whatever their attribute layout; a payload with none
takes the plain-DOM parse.
"""

from __future__ import annotations

import math
import re

from glm_ocr_spark.config import LABEL2ID, PAGE_HEIGHT, PAGE_WIDTH

_PAGE_RE = re.compile(r'<page\s+w="(\d+)"\s+h="(\d+)"\s*/>')
# one block regex: the canonical attribute layout (label, score, bbox[,
# order] in that order, double-quoted, no extras) fills groups 1-4; any
# other layout falls to group 5 and is parsed by _ATTR_RE. Both branches
# end the attributes at the first '>', so every layout yields the same
# block boundaries as the oracle's <block\s+([^>]*?)>(.*?)</block>.
_BLOCK_RE = re.compile(
    r'<block\s+(?:label="([^">]*)" score="([^">]*)" bbox="([^">]*)"'
    r'(?: order="([^">]*)")?|([^>]*?))>(.*?)</block>', re.DOTALL)
_ATTR_RE = re.compile(r'(\w+)="([^"]*)"')

# plain-DOM tags -> 25-class labels
_TAG_LABEL = {
    "h1": "doc_title",
    "h2": "paragraph_title",
    "h3": "paragraph_title",
    "p": "text",
    "table": "table",
    "header": "header",
    "footer": "footer",
    "nav": "aside_text",
    "aside": "aside_text",
    "pre": "algorithm",
    "blockquote": "text",
    "figcaption": "figure_title",
}
_DOM_RE = re.compile(
    r"<(h1|h2|h3|p|table|header|footer|nav|aside|pre|blockquote|figcaption)"
    r"(?:\s[^>]*)?>(.*?)</\1>|<img\b[^>]*/?>",
    re.DOTALL,
)
_LINK_RE = re.compile(r"<a\b[^>]*>(.*?)</a>", re.DOTALL)
_FORMULA_NUM_RE = re.compile(r"^[\(（]\s*\d+(?:\.\d+)*\s*[\)）]$")
_PAGE_NUM_RE = re.compile(r"^(?:-\s*)?\d{1,4}(?:\s*-)?$")
_TAG_STRIP_RE = re.compile(r"<[^>]+>")


def parse_page_size(payload: str) -> tuple[float, float]:
    # substring guard: plain-DOM payloads have no '<page' and previously
    # paid a full regex scan just to fall back to the default
    if "<page" in payload:
        m = _PAGE_RE.search(payload)
        if m:
            return float(m.group(1)), float(m.group(2))
    return float(PAGE_WIDTH), float(PAGE_HEIGHT)


def link_density(fragment: str, visible: str | None = None) -> float:
    """Fraction of visible characters inside <a> anchors (Arc90-style).
    `visible` is the precomputed tag-stripped fragment (identical regex) —
    _plain_rows computes it once per block instead of 3x."""
    total = len(_TAG_STRIP_RE.sub("", fragment) if visible is None
                else visible)
    if total == 0:
        return 0.0
    if "<a" not in fragment:  # no anchors: identical result, no regex pass
        return 0.0
    linked = sum(len(_TAG_STRIP_RE.sub("", m.group(1)))
                 for m in _LINK_RE.finditer(fragment))
    return min(1.0, linked / total)


def plain_block_score(fragment: str, visible: str | None = None) -> float:
    """Deterministic Arc90/trafilatura-style confidence for a DOM block:
    longer text scores higher, link-heavy text scores lower."""
    if visible is None:
        visible = _TAG_STRIP_RE.sub("", fragment)
    n = len(visible.strip())
    if n == 0:
        return 0.05
    score = (0.45 + 0.12 * math.log10(n)
             - 0.8 * link_density(fragment, visible))
    return round(min(0.99, max(0.05, score)), 4)


def _classify_plain(tag: str | None, fragment: str,
                    visible: str | None = None) -> str:
    """Infer a 25-class label for a plain-DOM block."""
    inner = (_TAG_STRIP_RE.sub("", fragment) if visible is None
             else visible).strip()
    if tag == "img" or (tag is None and fragment.lstrip().startswith("<img")):
        return "image"
    if tag in _TAG_LABEL:
        label = _TAG_LABEL[tag]
        if label == "text":
            if inner.startswith("$$") and inner.endswith("$$"):
                return "display_formula"
            if _FORMULA_NUM_RE.match(inner):
                return "formula_number"
        return label
    # untagged paragraph
    if inner.startswith("$$") and inner.endswith("$$"):
        return "display_formula"
    if _FORMULA_NUM_RE.match(inner):
        return "formula_number"
    if _PAGE_NUM_RE.match(inner):
        return "number"
    return "text"


def _plain_rows(payload: str) -> tuple[list[tuple], list[tuple[int, int]]]:
    """Plain-DOM (rows, spans): tagged elements and untagged paragraph runs
    alternate, geometry synthesized top-to-bottom in document order."""
    pos = 0
    pieces: list[tuple[str | None, int, int]] = []  # (tag, start, end)
    for m in _DOM_RE.finditer(payload):
        for para_start, para_end in _paragraph_runs(payload, pos, m.start()):
            pieces.append((None, para_start, para_end))
        if m.group(1) is not None:
            pieces.append((m.group(1), m.start(2), m.end(2)))
        else:  # <img .../>
            pieces.append(("img", m.start(), m.end()))
        pos = m.end()
    for para_start, para_end in _paragraph_runs(payload, pos, len(payload)):
        pieces.append((None, para_start, para_end))

    n = len(pieces)
    rows = []
    spans = []
    for k, (tag, start, end) in enumerate(pieces):
        fragment = payload[start:end]
        # tag-strip only when a tag can exist (sub() is a full regex scan
        # even on miss; identical output — no '<' means nothing to strip)
        visible = _TAG_STRIP_RE.sub("", fragment) if "<" in fragment \
            else fragment
        label = _classify_plain(tag, fragment, visible)
        y1 = (k * 1000.0) / n
        y2 = y1 + max(1.0, 1000.0 / n - 5.0)
        rows.append((LABEL2ID[label], plain_block_score(fragment, visible),
                     50.0, y1, 950.0, min(y2, 1000.0), k + 1))
        spans.append((start, end))
    return rows, spans


def segment(payload: str):
    """Parse one turn payload: (page_w, page_h, rows, spans, has_order),
    rows = [(cls_id, score, x1, y1, x2, y2, order), ...] and spans the
    parallel char offsets of each block's content.

    Annotated form takes precedence (any attribute layout); a page with one
    block missing its order has no model order at all (has_order False,
    order 0 everywhere -> XY-cut). A payload with no annotated blocks takes
    the plain-DOM form. One `_BLOCK_RE` pass finds every annotated block,
    whatever its attribute layout; equivalence with the oracle is enforced
    by the oracle gate plus tests/test_fuzz_kernel_vs_oracle.py."""
    l2i = LABEL2ID
    text_id = l2i["text"]
    page_w, page_h = parse_page_size(payload)
    rows: list[tuple] = []
    spans: list[tuple[int, int]] = []
    missing = False
    for m in _BLOCK_RE.finditer(payload):
        label, score_s, bbox_s, order_s, attr_s = m.group(1, 2, 3, 4, 5)
        if attr_s is not None:  # off the canonical layout
            attrs = dict(_ATTR_RE.findall(attr_s))
            label = attrs.get("label", "text")
            score_s = attrs.get("score", "1.0")
            bbox_s = attrs.get("bbox", "")
            order_s = attrs.get("order")
        try:
            score = float(score_s)
        except ValueError:  # malformed annotation: trust-nothing default
            score = 1.0
        try:
            x1, y1, x2, y2 = map(float, bbox_s.split(","))
        except ValueError:
            x1, y1, x2, y2 = 0.0, 0.0, page_w, page_h
        try:
            order = int(order_s)
        except (TypeError, ValueError):
            missing = True
            order = 0
        rows.append((l2i.get(label, text_id), score, x1, y1, x2, y2, order))
        spans.append(m.span(6))
    if not rows:
        return (page_w, page_h, *_plain_rows(payload), True)
    return page_w, page_h, rows, spans, not missing


_PARA_SPLIT_RE = re.compile(r"\n\s*\n")


def _paragraph_runs(payload: str, start: int, end: int):
    """Yield absolute (start, end) spans of blank-line-separated, non-empty,
    non-markup-noise paragraphs in payload[start:end]."""
    chunk = payload[start:end]
    pos = 0
    bounds = []
    for sep in _PARA_SPLIT_RE.finditer(chunk):
        bounds.append((pos, sep.start()))
        pos = sep.end()
    bounds.append((pos, len(chunk)))
    for s, e in bounds:
        part = chunk[s:e]
        stripped = part.strip()
        if not stripped or _is_markup_noise(stripped):
            continue
        lead = len(part) - len(part.lstrip())
        yield (start + s + lead, start + s + lead + len(stripped))


def _is_markup_noise(s: str) -> bool:
    """True for fragments that are pure markup leftovers (e.g. only tags)."""
    return _TAG_STRIP_RE.sub("", s).strip() == ""
