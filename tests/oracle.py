"""Single-node oracle: an independent, sequential, dict-based reference
implementation of the extraction semantics (SURVEY.md §5: "the oracle —
playing the role GLM-OCR's server plays for the reference").

Deliberately written in the reference's style — per-pair Python loops, dicts,
inline regexes, no numpy — as a structurally different implementation of the
same spec, so byte-equality against the vectorized Spark kernel is a
meaningful test rather than the same code called twice.

Spec sources (behavioral citations):
  - NMS / containment / oversize / clamp: /root/reference/glmocr/utils/
    layout_postprocess_utils.py:7-113, 242-264, 361-369
  - detector index/task/normalize:       /root/reference/glmocr/layout/
    layout_detector.py:271-315
  - formatter:                           /root/reference/glmocr/postprocess/
    result_formatter.py:135-534
  - repeat/number cleaning:              /root/reference/glmocr/utils/
    result_postprocess_utils.py:8-115
"""

from __future__ import annotations

import json
import math
import re
from collections import Counter

from glm_ocr_spark.config import (
    LABEL2ID,
    LABEL_TO_TASK,
    LABEL_TO_VIS,
    LAYOUT_MERGE_BBOXES_MODE,
    PRESERVE_CLASS_IDS,
    SCORE_THRESHOLD,
    SCORE_THRESHOLD_BY_CLASS,
)
from glm_ocr_spark.wordfreq_snapshot import zipf_frequency

ID2LABEL = {v: k for k, v in LABEL2ID.items()}


# ---------------------------------------------------------------- segmentation
def _parse_attrs(s):
    return dict(re.findall(r'(\w+)="([^"]*)"', s))


def oracle_segment(payload):
    m = re.search(r'<page\s+w="(\d+)"\s+h="(\d+)"\s*/>', payload)
    page_w, page_h = (float(m.group(1)), float(m.group(2))) if m else (1000.0, 1000.0)

    blocks = []
    ms = list(re.finditer(r"<block\s+([^>]*?)>(.*?)</block>", payload, re.DOTALL))
    if ms:
        missing_order = False
        for m in ms:
            attrs = _parse_attrs(m.group(1))
            label = attrs.get("label", "text")
            if label not in LABEL2ID:
                label = "text"
            try:
                bbox = tuple(float(v) for v in attrs.get("bbox", "").split(","))
                assert len(bbox) == 4
            except (ValueError, AssertionError):
                bbox = (0.0, 0.0, page_w, page_h)
            order = attrs.get("order")
            try:
                order = int(order) if order is not None else None
            except ValueError:
                order = None
            if order is None:
                missing_order = True
            try:
                score = float(attrs.get("score", "1.0"))
            except ValueError:
                score = 1.0
            blocks.append({
                "cls_id": LABEL2ID[label],
                "label": label,
                "score": score,
                "bbox": list(bbox),
                "order": order,
                "span": (m.start(2), m.end(2)),
            })
        if missing_order:
            for b in blocks:
                b["order"] = None
        return page_w, page_h, blocks

    # plain-DOM mode
    dom_re = re.compile(
        r"<(h1|h2|h3|p|table|header|footer|nav|aside|pre|blockquote|figcaption)"
        r"(?:\s[^>]*)?>(.*?)</\1>|<img\b[^>]*/?>",
        re.DOTALL,
    )
    tag_label = {
        "h1": "doc_title", "h2": "paragraph_title", "h3": "paragraph_title",
        "p": "text", "table": "table", "header": "header", "footer": "footer",
        "nav": "aside_text", "aside": "aside_text", "pre": "algorithm",
        "blockquote": "text", "figcaption": "figure_title",
    }

    def visible(s):
        return re.sub(r"<[^>]+>", "", s)

    def paragraphs(lo, hi):
        chunk = payload[lo:hi]
        pos = 0
        segs = []
        for sep in re.finditer(r"\n\s*\n", chunk):
            segs.append((pos, sep.start()))
            pos = sep.end()
        segs.append((pos, len(chunk)))
        out = []
        for s, e in segs:
            part = chunk[s:e]
            stripped = part.strip()
            if not stripped or visible(stripped).strip() == "":
                continue
            lead = len(part) - len(part.lstrip())
            out.append((lo + s + lead, lo + s + lead + len(stripped)))
        return out

    pieces = []
    pos = 0
    for m in dom_re.finditer(payload):
        pieces.extend((None, s, e) for s, e in paragraphs(pos, m.start()))
        if m.group(1) is not None:
            pieces.append((m.group(1), m.start(2), m.end(2)))
        else:
            pieces.append(("img", m.start(), m.end()))
        pos = m.end()
    pieces.extend((None, s, e) for s, e in paragraphs(pos, len(payload)))

    n = len(pieces)
    for k, (tag, s, e) in enumerate(pieces):
        frag = payload[s:e]
        inner = visible(frag).strip()
        if tag == "img":
            label = "image"
        elif tag in tag_label:
            label = tag_label[tag]
            if label == "text":
                if inner.startswith("$$") and inner.endswith("$$"):
                    label = "display_formula"
                elif re.match(r"^[\(（]\s*\d+(?:\.\d+)*\s*[\)）]$", inner):
                    label = "formula_number"
        else:
            if inner.startswith("$$") and inner.endswith("$$"):
                label = "display_formula"
            elif re.match(r"^[\(（]\s*\d+(?:\.\d+)*\s*[\)）]$", inner):
                label = "formula_number"
            elif re.match(r"^(?:-\s*)?\d{1,4}(?:\s*-)?$", inner):
                label = "number"
            else:
                label = "text"
        # score: text-length + link-density heuristic
        total = len(visible(frag))
        if total == 0:
            score = 0.05
        else:
            linked = sum(
                len(visible(g))
                for g in re.findall(r"<a\b[^>]*>(.*?)</a>", frag, re.DOTALL)
            )
            ld = min(1.0, linked / total)
            text_len = len(visible(frag).strip())
            if text_len == 0:
                score = 0.05
            else:
                score = round(
                    min(0.99, max(0.05, 0.45 + 0.12 * math.log10(text_len) - 0.8 * ld)),
                    4,
                )
        y1 = (k * 1000.0) / n
        y2 = y1 + max(1.0, 1000.0 / n - 5.0)
        blocks.append({
            "cls_id": LABEL2ID[label], "label": label, "score": score,
            "bbox": [50.0, y1, 950.0, min(y2, 1000.0)], "order": k + 1,
            "span": (s, e),
        })
    return page_w, page_h, blocks


# ---------------------------------------------------------------- geometry
def _iou(b1, b2):
    x1, y1, x2, y2 = b1
    x1p, y1p, x2p, y2p = b2
    xi1, yi1 = max(x1, x1p), max(y1, y1p)
    xi2, yi2 = min(x2, x2p), min(y2, y2p)
    inter = max(0, xi2 - xi1 + 1) * max(0, yi2 - yi1 + 1)
    a1 = (x2 - x1 + 1) * (y2 - y1 + 1)
    a2 = (x2p - x1p + 1) * (y2p - y1p + 1)
    den = float(a1 + a2 - inter)
    if den == 0:
        return float("nan")  # zero-area pair: NaN -> not < thr -> suppressed
    return inter / den


def _nms(blocks, iou_same=0.6, iou_diff=0.98):
    # np.argsort(scores)[::-1] equivalence: ties pick the LATER index first
    indices = sorted(range(len(blocks)),
                     key=lambda i: (-blocks[i]["score"], -i))
    selected = []
    while indices:
        cur = indices.pop(0)
        selected.append(cur)
        rest = []
        for i in indices:
            thr = iou_same if blocks[i]["cls_id"] == blocks[cur]["cls_id"] else iou_diff
            if _iou(blocks[cur]["bbox"], blocks[i]["bbox"]) < thr:
                rest.append(i)
        indices = rest
    return [blocks[i] for i in selected]


def _is_contained(inner, outer):
    x1, y1, x2, y2 = inner
    x1p, y1p, x2p, y2p = outer
    area = (x2 - x1) * (y2 - y1)
    iw = max(0, min(x2, x2p) - max(x1, x1p))
    ih = max(0, min(y2, y2p) - max(y1, y1p))
    ratio = (iw * ih) / area if area > 0 else 0
    return ratio >= 0.8


def _filter_oversize(blocks, page_w, page_h):
    if len(blocks) <= 1:
        return blocks
    thr = 0.82 if page_w > page_h else 0.93
    img_cls = LABEL2ID["image"]
    out = []
    for b in blocks:
        if b["cls_id"] == img_cls:
            x1 = max(0, b["bbox"][0])
            y1 = max(0, b["bbox"][1])
            x2 = min(page_w, b["bbox"][2])
            y2 = min(page_h, b["bbox"][3])
            if (x2 - x1) * (y2 - y1) <= thr * page_w * page_h:
                out.append(b)
        else:
            out.append(b)
    return out if out else blocks


def _apply_merge_modes(blocks):
    n = len(blocks)
    if n == 0:
        return blocks
    keep = [True] * n
    for category, mode in LAYOUT_MERGE_BBOXES_MODE.items():
        if mode == "union":
            continue
        contains_other = [0] * n
        contained_by_other = [0] * n
        for i in range(n):
            if blocks[i]["cls_id"] in PRESERVE_CLASS_IDS:
                continue
            for j in range(n):
                if i == j:
                    continue
                if mode == "large" and blocks[j]["cls_id"] == category:
                    if _is_contained(blocks[i]["bbox"], blocks[j]["bbox"]):
                        contained_by_other[i] = 1
                        contains_other[j] = 1
                if mode == "small" and blocks[i]["cls_id"] == category:
                    if _is_contained(blocks[i]["bbox"], blocks[j]["bbox"]):
                        contained_by_other[i] = 1
                        contains_other[j] = 1
        for i in range(n):
            if mode == "large":
                keep[i] = keep[i] and contained_by_other[i] == 0
            else:
                keep[i] = keep[i] and (contains_other[i] == 0
                                       or contained_by_other[i] == 1)
    return [b for i, b in enumerate(blocks) if keep[i]]


def _xy_cut(blocks):
    """Recursive XY-cut: same spec as the kernel, plain-Python. Intervals are
    min/max-normalized (inverted boxes would break bucket progress), with a
    progress guard requiring >= 2 groups per accepted cut axis."""
    def span(b, axis):
        if axis == 0:
            return (min(b["bbox"][1], b["bbox"][3]),
                    max(b["bbox"][1], b["bbox"][3]))
        return (min(b["bbox"][0], b["bbox"][2]),
                max(b["bbox"][0], b["bbox"][2]))

    def gaps(items, axis):
        order = sorted(range(len(items)), key=lambda k: span(items[k], axis)[0])
        cuts = []
        cover = span(items[order[0]], axis)[1]
        for k in order[1:]:
            lo, hi = span(items[k], axis)
            if lo > cover:
                cuts.append((cover + lo) / 2.0)
            cover = max(cover, hi)
        return cuts

    def rec(items, axis_first):
        if len(items) <= 1:
            return items
        for axis in (axis_first, 1 - axis_first):
            cs = gaps(items, axis)
            if cs:
                groups = []
                prev = -math.inf
                for c in cs + [math.inf]:
                    grp = [b for b in items if prev < span(b, axis)[0] <= c]
                    if grp:
                        groups.append(grp)
                    prev = c
                if len(groups) >= 2:
                    out = []
                    for g in groups:
                        out.extend(rec(g, 1 - axis))
                    return out
        return sorted(items, key=lambda b: (span(b, 0)[0], span(b, 1)[0]))

    return rec(list(blocks), 0)


# ---------------------------------------------------------------- text ops
def _clean_content(content):
    if content is None:
        return ""
    content = re.sub(r"^(\\t)+", "", content).lstrip()
    content = re.sub(r"(\\t)+$", "", content).rstrip()
    content = re.sub(r"(\.)\1{2,}", r"\1\1\1", content)
    content = re.sub(r"(·)\1{2,}", r"\1\1\1", content)
    content = re.sub(r"(_)\1{2,}", r"\1\1\1", content)
    content = re.sub(r"(\\_)\1{2,}", r"\1\1\1", content)
    if len(content) >= 2048:
        content = _clean_repeated(content)
    return content.strip()


def _find_consecutive_repeat(s, min_unit_len=10, min_repeats=10):
    n = len(s)
    if n < min_unit_len * min_repeats:
        return None
    max_unit_len = n // min_repeats
    if max_unit_len < min_unit_len:
        return None
    pattern = re.compile(
        r"(.{" + str(min_unit_len) + "," + str(max_unit_len) + r"}?)\1{"
        + str(min_repeats - 1) + ",}",
        re.DOTALL,
    )
    m = pattern.search(s)
    if m:
        return s[: m.start()] + m.group(1)
    return None


def _clean_repeated(content, min_len=10, min_repeats=10, line_threshold=10):
    stripped = content.strip()
    if not stripped:
        return content
    if len(stripped) > min_len * min_repeats:
        result = _find_consecutive_repeat(stripped, min_len, min_repeats)
        if result is not None:
            return result
    lines = [ln.strip() for ln in content.split("\n") if ln.strip()]
    total = len(lines)
    if total >= line_threshold and lines:
        common, count = Counter(lines).most_common(1)[0]
        if count >= line_threshold and (count / total) >= 0.8:
            for i, line in enumerate(lines):
                if line == common:
                    consecutive = sum(1 for j in range(i, min(i + 3, len(lines)))
                                      if lines[j] == common)
                    if consecutive >= 3:
                        original = content.split("\n")
                        non_empty = 0
                        for idx, orig in enumerate(original):
                            if orig.strip():
                                non_empty += 1
                                if non_empty == i + 1:
                                    return "\n".join(original[: idx + 1])
                        break
    return content


def _clean_formula_number(s):
    s = s.strip()
    if s.startswith("(") and s.endswith(")"):
        return s[1:-1]
    if s.startswith("（") and s.endswith("）"):
        return s[1:-1]
    return s


def _format_content(content, label, native_label):
    if content is None:
        return None
    content = _clean_content(str(content))
    if native_label == "doc_title":
        content = "# " + re.sub(r"^#+\s*", "", content)
    elif native_label == "paragraph_title":
        if content.startswith("- ") or content.startswith("* "):
            content = content[2:].lstrip()
        content = "## " + re.sub(r"^#+\s*", "", content).lstrip()
    if label == "formula":
        if content.startswith("$$") and content.endswith("$$"):
            content = "$$\n" + content[2:-2].strip() + "\n$$"
        elif content.startswith("\\[") and content.endswith("\\]"):
            content = "$$\n" + content[2:-2].strip() + "\n$$"
        elif content.startswith("\\(") and content.endswith("\\)"):
            content = "$$\n" + content[2:-2].strip() + "\n$$"
        else:
            content = "$$\n" + content + "\n$$"
    if label == "text":
        if content.startswith("·") or content.startswith("•") \
                or content.startswith("* "):
            content = "- " + content[1:].lstrip()
        m = re.match(r"^(\(|\（)(\d+|[A-Za-z])(\)|\）)(.*)$", content)
        if m:
            _, sym, _, rest = m.groups()
            content = f"({sym}) {rest.lstrip()}"
        m = re.match(r"^(\d+|[A-Za-z])(\.|\)|\）)(.*)$", content)
        if m:
            sym, sep, rest = m.groups()
            sep = ")" if sep == "）" else sep
            content = f"{sym}{sep} {rest.lstrip()}"
        content = re.sub(r"(?<!\n)\n(?!\n)", "\n\n", content)
    return content


# ---------------------------------------------------------------- recognition
def _unescape(s):
    for ent, ch in (("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
                    ("&#39;", "'"), ("&nbsp;", " "), ("&amp;", "&")):
        s = s.replace(ent, ch)
    return s


def _strip_markup(s):
    return _unescape(re.sub(r"<[^>]+>", "", s))


def _recognize(payload, span, task_type):
    if task_type == "skip":
        return None
    frag = payload[span[0]:span[1]]
    if task_type == "table":
        rows = re.findall(r"<tr\b[^>]*>(.*?)</tr>", frag, re.DOTALL | re.IGNORECASE)
        if not rows:
            return _strip_markup(frag).strip()
        parsed = [
            [_strip_markup(c).strip()
             for c in re.findall(r"<t[dh]\b[^>]*>(.*?)</t[dh]>", row,
                                 re.DOTALL | re.IGNORECASE)]
            for row in rows
        ]
        parsed = [r for r in parsed if r]
        if not parsed:
            return _strip_markup(frag).strip()
        lines = ["| " + " | ".join(parsed[0]) + " |",
                 "| " + " | ".join(["---"] * len(parsed[0])) + " |"]
        for row in parsed[1:]:
            lines.append("| " + " | ".join(row) + " |")
        return "\n".join(lines)
    if task_type == "formula":
        return _strip_markup(frag).strip()
    return _strip_markup(frag)


# ---------------------------------------------------------------- formatter
def _merge_formula_numbers(results):
    if not results:
        return results
    merged, skip = [], set()
    for i, block in enumerate(results):
        if i in skip:
            continue
        if block.get("native_label") == "formula_number":
            if i + 1 < len(results) and results[i + 1].get("label") == "formula":
                nxt = results[i + 1]
                num = _clean_formula_number((block.get("content") or "").strip())
                fc = nxt.get("content", "")
                mb = dict(nxt)
                if fc.endswith("\n$$"):
                    mb["content"] = fc[:-3] + f" \\tag{{{num}}}\n$$"
                merged.append(mb)
                skip.add(i + 1)
                continue
            continue
        if block.get("label") == "formula":
            if i + 1 < len(results) and \
                    results[i + 1].get("native_label") == "formula_number":
                num = _clean_formula_number(
                    (results[i + 1].get("content") or "").strip())
                fc = block.get("content", "")
                mb = dict(block)
                if fc.endswith("\n$$"):
                    mb["content"] = fc[:-3] + f" \\tag{{{num}}}\n$$"
                merged.append(mb)
                skip.add(i + 1)
                continue
            merged.append(block)
            continue
        merged.append(block)
    for idx, b in enumerate(merged):
        b["index"] = idx
    return merged


def _merge_text_blocks(results):
    if not results:
        return results
    merged, skip = [], set()
    for i, block in enumerate(results):
        if i in skip:
            continue
        if block.get("label") != "text":
            merged.append(block)
            continue
        content = block.get("content", "")
        if not isinstance(content, str):
            merged.append(block)
            continue
        cs = content.rstrip()
        if not cs or not cs.endswith("-"):
            merged.append(block)
            continue
        did = False
        for j in range(i + 1, len(results)):
            if results[j].get("label") == "text":
                nc = results[j].get("content", "")
                if isinstance(nc, str):
                    ns = nc.lstrip()
                    if ns and ns[0].islower():
                        wb = cs[:-1].split()
                        nw = ns.split()
                        if wb and nw:
                            if zipf_frequency((wb[-1] + nw[0]).lower(), "en") >= 2.5:
                                mb = dict(block)
                                mb["content"] = cs[:-1] + nc.lstrip()
                                merged.append(mb)
                                skip.add(j)
                                did = True
                break
        if not did:
            merged.append(block)
    for idx, b in enumerate(merged):
        b["index"] = idx
    return merged


def _format_bullet_points(results, thr=10.0):
    if len(results) < 3:
        return results
    for i in range(1, len(results) - 1):
        cur, prev, nxt = results[i], results[i - 1], results[i + 1]
        if cur.get("native_label") != "text":
            continue
        if prev.get("native_label") != "text" or nxt.get("native_label") != "text":
            continue
        cc = cur.get("content", "")
        if cc.startswith("- "):
            continue
        if not (prev.get("content", "").startswith("- ")
                and nxt.get("content", "").startswith("- ")):
            continue
        cb, pb, nb = (cur.get("bbox_2d") or [], prev.get("bbox_2d") or [],
                      nxt.get("bbox_2d") or [])
        if not (cb and pb and nb):
            continue
        if abs(cb[0] - pb[0]) <= thr and abs(cb[0] - nb[0]) <= thr:
            cur["content"] = "- " + cc
    return results


# ---------------------------------------------------------------- end-to-end
def oracle_extract_turn_ocr_only(payload, tool=""):
    """Layout-off path (format_ocr_result, result_formatter.py:70-98)."""
    if tool:
        return {"extracted_text": None, "markdown": None, "json": "[[]]",
                "spans": [], "n_blocks": 0}
    content = _clean_content(_strip_markup(payload)) if payload else ""
    json_str = json.dumps(
        [[{"index": 0, "label": "text", "content": content, "bbox_2d": None}]],
        ensure_ascii=False)
    return {
        "extracted_text": content,
        "markdown": content,
        "json": json_str,
        "spans": [(0, len(payload), "text")] if payload else [],
        "n_blocks": 1 if content else 0,
    }


def oracle_extract_turn(payload, tool=""):
    """Reference-style per-turn extraction; same contract as
    glm_ocr_spark.kernel.extract.extract_turn plus the tool-skip rule."""
    empty = {"extracted_text": None, "markdown": None, "json": "[[]]",
             "spans": [], "n_blocks": 0}
    if tool:
        return empty
    empty = {"extracted_text": "", "markdown": "", "json": "[[]]",
             "spans": [], "n_blocks": 0}
    if not payload:
        return empty

    page_w, page_h, blocks = oracle_segment(payload)
    if not blocks:
        return empty

    blocks = [b for b in blocks
              if b["score"] >= SCORE_THRESHOLD_BY_CLASS.get(b["cls_id"],
                                                            SCORE_THRESHOLD)]
    if not blocks:
        return empty

    blocks = _nms(blocks)
    blocks = _filter_oversize(blocks, page_w, page_h)
    blocks = _apply_merge_modes(blocks)
    if not blocks:
        return empty

    if all(b["order"] is not None for b in blocks):
        blocks = sorted(blocks, key=lambda b: b["order"])
    else:
        blocks = _xy_cut(blocks)

    # clamp + degenerate drop + int truncation; a NaN coordinate drops the
    # box (it compares false against every bound), infinities clamp
    survivors = []
    for b in blocks:
        if any(v != v for v in b["bbox"]):
            continue
        x1 = max(0.0, min(b["bbox"][0], page_w))
        y1 = max(0.0, min(b["bbox"][1], page_h))
        x2 = max(0.0, min(b["bbox"][2], page_w))
        y2 = max(0.0, min(b["bbox"][3], page_h))
        if x1 >= x2 or y1 >= y2:
            continue
        b = dict(b)
        b["bbox"] = [int(x1), int(y1), int(x2), int(y2)]
        survivors.append(b)
    if not survivors:
        return empty

    regions = []
    valid_index = 0
    for b in survivors:
        task_type = LABEL_TO_TASK.get(b["label"])
        if task_type is None or task_type == "abandon":
            continue
        x1, y1, x2, y2 = b["bbox"]
        regions.append({
            "index": valid_index,
            "label": b["label"],
            "score": b["score"],
            "bbox_2d": [int(x1 / page_w * 1000), int(y1 / page_h * 1000),
                        int(x2 / page_w * 1000), int(y2 / page_h * 1000)],
            "task_type": task_type,
            "span": b["span"],
        })
        valid_index += 1
    if not regions:
        return empty

    for r in regions:
        r["content"] = _recognize(payload, r["span"], r["task_type"])

    # formatter (result_formatter.py:147-191)
    regions = sorted(regions, key=lambda r: r.get("index", 0))
    page = []
    valid_idx = 0
    for item in regions:
        r = dict(item)
        r["native_label"] = r.get("label", "text")
        r["label"] = LABEL_TO_VIS.get(r["label"], r["label"])
        r["content"] = _format_content(r.get("content"), r["label"],
                                       r["native_label"])
        c = r.get("content")
        if isinstance(c, str) and c.strip() == "":
            continue
        r["index"] = valid_idx
        r.pop("task_type", None)
        r.pop("score", None)
        valid_idx += 1
        page.append(r)
    page = _merge_formula_numbers(page)
    page = _merge_text_blocks(page)
    page = _format_bullet_points(page)

    md_parts = []
    for r in page:
        if r.get("label") == "image":
            md_parts.append(f"![](page=0,bbox={r.get('bbox_2d', [])})")
        elif r.get("content"):
            md_parts.append(r["content"])
    markdown = "\n\n".join(md_parts)

    public = [{"index": r["index"], "label": r["label"],
               "content": r.get("content"), "bbox_2d": r.get("bbox_2d")}
              for r in page]
    json_str = json.dumps([public], ensure_ascii=False)

    extracted = "\n\n".join(
        r["content"] for r in page
        if r.get("label") != "image" and r.get("content")
    )
    spans = [(int(r["span"][0]), int(r["span"][1]), r["label"]) for r in page]
    return {"extracted_text": extracted, "markdown": markdown,
            "json": json_str, "spans": spans, "n_blocks": len(page)}
