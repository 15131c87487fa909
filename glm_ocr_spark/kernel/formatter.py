"""Result formatting: per-page region list -> sequence merges, then
(json_str, markdown_str, extracted_text, spans).

Behavioral parity with ResultFormatter
(/root/reference/glmocr/postprocess/result_formatter.py):
  - process:                :135-212
  - _merge_formula_numbers: :446-534  (J1)
  - _merge_text_blocks:     :316-387  (J2, hyphenation + zipf gate)
  - _format_bullet_points:  :389-444  (J3, left-alignment fill)

Regions here are plain dicts with keys
(index, label, native_label, content, bbox_2d, span) — `span` is our
char-offset provenance column, carried through untouched (the reference
carries `polygon` the same way).
"""

from __future__ import annotations

import json

from glm_ocr_spark.config import (
    BULLET_LEFT_ALIGN_THRESHOLD,
    HYPHEN_MERGE_ZIPF_THRESHOLD,
)
from glm_ocr_spark.kernel.textproc import clean_formula_number
from glm_ocr_spark.wordfreq_snapshot import zipf_frequency


def merge_formula_numbers(regions: list[dict]) -> list[dict]:
    """J1: merge adjacent formula_number into formula as \\tag{n}; orphan
    formula_number blocks are dropped (result_formatter.py:446-534)."""
    if not regions:
        return regions
    merged: list[dict] = []
    skip: set[int] = set()
    for i, block in enumerate(regions):
        if i in skip:
            continue
        native_label = block.get("native_label", "")

        if native_label == "formula_number":
            if i + 1 < len(regions):
                nxt = regions[i + 1]
                if nxt.get("label") == "formula":
                    number_clean = clean_formula_number(
                        (block.get("content") or "").strip())
                    formula_content = nxt.get("content", "")
                    merged_block = dict(nxt)
                    if formula_content.endswith("\n$$"):
                        merged_block["content"] = (
                            formula_content[:-3] + f" \\tag{{{number_clean}}}\n$$")
                    merged.append(merged_block)
                    skip.add(i + 1)
                    continue
            continue  # orphan formula_number: dropped

        if block.get("label") == "formula":
            if i + 1 < len(regions):
                nxt = regions[i + 1]
                if nxt.get("native_label") == "formula_number":
                    number_clean = clean_formula_number(
                        (nxt.get("content") or "").strip())
                    formula_content = block.get("content", "")
                    merged_block = dict(block)
                    if formula_content.endswith("\n$$"):
                        merged_block["content"] = (
                            formula_content[:-3] + f" \\tag{{{number_clean}}}\n$$")
                    merged.append(merged_block)
                    skip.add(i + 1)
                    continue
            merged.append(block)
            continue

        merged.append(block)

    for idx, block in enumerate(merged):
        block["index"] = idx
    return merged


def merge_text_blocks(regions: list[dict]) -> list[dict]:
    """J2: merge a text block ending '-' with the next text block starting
    lowercase when the joined word clears the zipf gate
    (result_formatter.py:316-387)."""
    if not regions:
        return regions
    merged: list[dict] = []
    skip: set[int] = set()
    for i, block in enumerate(regions):
        if i in skip:
            continue
        if block.get("label") != "text":
            merged.append(block)
            continue
        content = block.get("content", "")
        if not isinstance(content, str):
            merged.append(block)
            continue
        content_stripped = content.rstrip()
        if not content_stripped or not content_stripped.endswith("-"):
            merged.append(block)
            continue

        did_merge = False
        for j in range(i + 1, len(regions)):
            if regions[j].get("label") != "text":
                continue
            next_content = regions[j].get("content", "")
            if isinstance(next_content, str):
                next_stripped = next_content.lstrip()
                if next_stripped and next_stripped[0].islower():
                    words_before = content_stripped[:-1].split()
                    next_words = next_stripped.split()
                    if words_before and next_words:
                        candidate = words_before[-1] + next_words[0]
                        if zipf_frequency(candidate.lower(), "en") >= \
                                HYPHEN_MERGE_ZIPF_THRESHOLD:
                            merged_block = dict(block)
                            merged_block["content"] = (
                                content_stripped[:-1] + next_content.lstrip())
                            merged.append(merged_block)
                            skip.add(j)
                            did_merge = True
            break  # only the first following text block is considered

        if not did_merge:
            merged.append(block)

    for idx, block in enumerate(merged):
        block["index"] = idx
    return merged


def format_bullet_points(regions: list[dict],
                         left_align_threshold: float = BULLET_LEFT_ALIGN_THRESHOLD
                         ) -> list[dict]:
    """J3: a text block sandwiched between two '- ' bullets and left-aligned
    within the threshold gets a '- ' prefix (result_formatter.py:389-444).
    Mutates in place, like the reference."""
    if len(regions) < 3:
        return regions
    for i in range(1, len(regions) - 1):
        cur, prev, nxt = regions[i], regions[i - 1], regions[i + 1]
        if cur.get("native_label") != "text":
            continue
        if prev.get("native_label") != "text" or nxt.get("native_label") != "text":
            continue
        cur_content = cur.get("content", "")
        if cur_content.startswith("- "):
            continue
        if not (prev.get("content", "").startswith("- ")
                and nxt.get("content", "").startswith("- ")):
            continue
        cur_bbox = cur.get("bbox_2d") or []
        prev_bbox = prev.get("bbox_2d") or []
        next_bbox = nxt.get("bbox_2d") or []
        if not (cur_bbox and prev_bbox and next_bbox):
            continue
        if (abs(cur_bbox[0] - prev_bbox[0]) <= left_align_threshold
                and abs(cur_bbox[0] - next_bbox[0]) <= left_align_threshold):
            cur["content"] = "- " + cur_content
    return regions


_json_esc = json.encoder.encode_basestring  # C impl; == dumps(ensure_ascii=False)


def finalize_page(page_regions: list[dict]
                  ) -> tuple[str, str, str, list[tuple]]:
    """(json_str, markdown_str, extracted_text, out_spans) for a one-page
    unit in ONE pass: the reference's json nesting (list of pages) with
    ensure_ascii=False (result_formatter.py:208-210), markdown with image
    refs as placeholders and blocks joined '\\n\\n' (:196-206), the
    non-image contents joined '\\n\\n', and the (start, end, label) span
    projection.

    A region's JSON is rendered directly (same separators/escaping as
    json.dumps with ensure_ascii=False — the string escaper IS the json
    module's C escaper) when every field has the expected exact type; any
    surprise (a custom formatter emitting floats, bools, nested values)
    falls back to json.dumps for that region, byte-identical to dumping the
    whole page for the conforming case by construction."""
    jparts: list[str] = []
    mdparts: list[str] = []
    tparts: list[str] = []
    spans: list[tuple] = []
    for r in page_regions:
        idx = r["index"]
        label = r["label"]
        content = r.get("content")
        bbox = r.get("bbox_2d")
        if content is None:
            cs = "null"
        elif type(content) is str:
            cs = _json_esc(content)
        else:
            cs = None
        if bbox is None:
            bs = "null"
        elif (type(bbox) is list and len(bbox) == 4
              and type(bbox[0]) is int and type(bbox[1]) is int
              and type(bbox[2]) is int and type(bbox[3]) is int):
            bs = "[%d, %d, %d, %d]" % (bbox[0], bbox[1], bbox[2], bbox[3])
        else:
            bs = None
        if (cs is None or bs is None or type(idx) is not int
                or type(label) is not str):
            jparts.append(json.dumps(
                {"index": idx, "label": label, "content": content,
                 "bbox_2d": bbox}, ensure_ascii=False))
        else:
            jparts.append('{"index": %d, "label": %s, "content": %s, '
                          '"bbox_2d": %s}' % (idx, _json_esc(label), cs, bs))
        if label == "image":
            mdparts.append(f"![](page=0,bbox={r.get('bbox_2d', [])})")
        elif content:
            mdparts.append(content)
            tparts.append(content)
        sp = r["span"]
        spans.append((int(sp[0]), int(sp[1]), label))
    return ("[[" + ", ".join(jparts) + "]]", "\n\n".join(mdparts),
            "\n\n".join(tparts), spans)
