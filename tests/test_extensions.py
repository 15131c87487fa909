"""U1-U3 pluggability + P1/P2 canonicalization tests."""

from glm_ocr_spark.kernel.canonicalize import canonicalize_payload
from glm_ocr_spark.kernel.extract import extract_turn


PAYLOAD = (
    '<block label="text" score="0.9" bbox="50,100,950,200" order="1">'
    "hello world</block>"
)


class TestPluggability:
    def test_custom_recognizer(self):
        def shouting(payload, span, task_type):
            return payload[span[0]:span[1]].upper()

        r = extract_turn(PAYLOAD, recognizer=shouting)
        assert r["extracted_text"] == "HELLO WORLD"

    def test_custom_segmenter(self):
        def whole_page(payload):
            # (page_w, page_h, rows, spans, has_order); a row is
            # (cls_id, score, x1, y1, x2, y2, order)
            return (1000.0, 1000.0, [(22, 1.0, 0.0, 0.0, 1000.0, 1000.0, 1)],
                    [(0, len(payload))], True)

        r = extract_turn("raw content here", segmenter=whole_page)
        assert r["n_blocks"] == 1
        assert r["spans"] == [(0, 16, "text")]

    def test_custom_formatter(self):
        def drop_everything(regions):
            return []

        r = extract_turn(PAYLOAD, formatter=drop_everything)
        assert r["n_blocks"] == 0
        assert r["json"] == "[[]]"

    def test_formatter_runs_over_final_regions(self):
        seen = []

        def spy(regions):
            seen.extend(regions)
            return regions

        title = PAYLOAD.replace('label="text"', 'label="doc_title"')
        assert extract_turn(title, formatter=spy) == extract_turn(title)
        start = title.index("hello")
        assert [(r["label"], r["native_label"], r["content"], r["span"])
                for r in seen] == [("text", "doc_title", "# hello world",
                                    (start, start + 11))]

    def test_defaults_unchanged(self):
        assert extract_turn(PAYLOAD)["extracted_text"] == "hello world"


class TestExtractConfig:
    """Config-driven knobs (reference config.yaml:183-233 surface)."""

    def _two_texts(self):
        return (
            '<block label="text" score="0.5" bbox="50,100,950,200" order="1">'
            "low score</block>\n"
            '<block label="text" score="0.97" bbox="50,300,950,400" order="2">'
            "high score</block>"
        )

    def test_per_class_threshold_override(self):
        from glm_ocr_spark.kernel.extract import ExtractConfig

        cfg = ExtractConfig(score_threshold_by_class={22: 0.9})
        r = extract_turn(self._two_texts(), config=cfg)
        assert r["extracted_text"] == "high score"
        # default keeps both (0.5 >= 0.3)
        assert extract_turn(self._two_texts())["n_blocks"] == 2

    def test_nms_disabled_keeps_duplicates(self):
        from glm_ocr_spark.kernel.extract import ExtractConfig

        dup = (
            '<block label="text" score="0.9" bbox="50,100,950,200" order="1">'
            "winner</block>\n"
            '<block label="text" score="0.5" bbox="52,102,952,202" order="2">'
            "duplicate</block>"
        )
        assert extract_turn(dup)["n_blocks"] == 1
        cfg = ExtractConfig(nms_enabled=False,
                            merge_modes={})  # containment would drop it too
        assert extract_turn(dup, config=cfg)["n_blocks"] == 2

    def test_union_merge_mode_keeps_contained(self):
        from glm_ocr_spark.kernel.extract import ExtractConfig

        nested = (
            '<block label="text" score="0.9" bbox="50,100,950,500" order="1">'
            "outer</block>\n"
            '<block label="text" score="0.8" bbox="100,150,500,250" order="2">'
            "inner</block>"
        )
        assert extract_turn(nested)["n_blocks"] == 1  # default 'large' drops
        cfg = ExtractConfig(merge_modes={22: "union"})
        assert extract_turn(nested, config=cfg)["n_blocks"] == 2

    def test_unclip_expands_bbox(self):
        import json as _json

        from glm_ocr_spark.kernel.extract import ExtractConfig

        payload = ('<block label="text" score="0.9" bbox="400,400,600,500" '
                   'order="1">x</block>')
        cfg = ExtractConfig(unclip_ratio=(2.0, 1.0))
        r = extract_turn(payload, config=cfg)
        bbox = _json.loads(r["json"])[0][0]["bbox_2d"]
        assert bbox == [300, 400, 700, 500]

    def test_unclip_per_class_dict_end_to_end(self):
        """Per-class dict form (reference unclip_boxes dict path,
        layout_postprocess_utils.py:116-157): only the listed class
        expands; the other label keeps its bbox."""
        import json as _json

        from glm_ocr_spark.kernel.extract import ExtractConfig

        payload = (
            '<block label="text" score="0.9" bbox="400,400,600,500" '
            'order="1">x</block>\n'
            '<block label="doc_title" score="0.9" bbox="100,100,200,150" '
            'order="2">t</block>'
        )
        # text=22: widen 2x; doc_title untouched
        cfg = ExtractConfig(unclip_ratio={22: (2.0, 1.0)})
        r = extract_turn(payload, config=cfg)
        blocks = _json.loads(r["json"])[0]
        # doc_title is re-labelled "text" downstream (T8 _map_label), so key
        # by content: "x" is the text block, "# t" the formatted title.
        by_content = {b["content"]: b["bbox_2d"] for b in blocks}
        assert by_content["x"] == [300, 400, 700, 500]
        assert by_content["# t"] == [100, 100, 200, 150]

    def test_config_through_spark(self, spark):
        import datetime as dt

        from glm_ocr_spark.kernel.extract import ExtractConfig
        from glm_ocr_spark.pipeline import extract_transcripts

        rows = [("c1", 0, "user", self._two_texts(), "",
                 dt.datetime(2026, 1, 1))]
        df = spark.createDataFrame(
            rows, "conv_id string, turn_idx int, role string, text string, "
                  "tool string, ts timestamp")
        cfg = ExtractConfig(score_threshold_by_class={22: 0.9})
        out = extract_transcripts(df, config=cfg).collect()
        assert out[0]["extracted_text"] == "high score"


class TestCanonicalize:
    def test_nfc_normalization(self):
        # e + combining acute -> precomposed é
        assert canonicalize_payload("café") == "café"

    def test_newline_canonicalization(self):
        assert canonicalize_payload("a\r\nb\rc") == "a\nb\nc"

    def test_identity_within_budget(self):
        assert canonicalize_payload(PAYLOAD) == PAYLOAD

    def test_clamp_at_block_boundary(self):
        blocks = PAYLOAD * 10
        out = canonicalize_payload(blocks, max_chars=len(PAYLOAD) * 3 + 10)
        assert out.endswith("</block>")
        assert len(out) <= len(PAYLOAD) * 3 + 10
        # still a clean payload: extraction works on the clamped text
        assert extract_turn(out)["n_blocks"] >= 1

    def test_clamp_at_paragraph_boundary(self):
        text = "para one\n\npara two\n\npara three"
        # budget 20 fits exactly through the second boundary (ends at 20)
        assert canonicalize_payload(text, max_chars=20) == "para one\n\npara two\n\n"
        # budget 15 only fits the first paragraph + boundary
        assert canonicalize_payload(text, max_chars=15) == "para one\n\n"

    def test_hard_cut_without_boundary(self):
        out = canonicalize_payload("x" * 100, max_chars=10)
        assert out == "x" * 10

    def test_none_passthrough(self):
        assert canonicalize_payload(None) is None
