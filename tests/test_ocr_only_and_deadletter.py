"""OCR-only mode (layout-off path) parity + dead-letter error capture."""

import pytest

from glm_ocr_spark.data.gen import conv_id_of, gen_turn_payload, n_turns
from glm_ocr_spark.kernel.extract import extract_turn_ocr_only
from tests.oracle import oracle_extract_turn_ocr_only

FIELDS = ("extracted_text", "markdown", "json", "spans", "n_blocks")


class TestOcrOnlyKernel:
    def test_corpus_parity(self):
        for c in range(10):
            cid = conv_id_of(c)
            for t in range(min(n_turns(c), 25)):
                _, text, tool = gen_turn_payload(cid, t)
                if tool:
                    continue
                k = extract_turn_ocr_only(text)
                o = oracle_extract_turn_ocr_only(text)
                for f in FIELDS:
                    assert k[f] == o[f], (cid, t, f)

    def test_whole_payload_one_region(self):
        r = extract_turn_ocr_only("<p>hello</p> world")
        assert r["extracted_text"] == "hello world"
        assert r["n_blocks"] == 1
        assert '"bbox_2d": null' in r["json"]

    def test_empty(self):
        r = extract_turn_ocr_only("")
        assert r["n_blocks"] == 0
        assert r["extracted_text"] == ""


@pytest.mark.usefixtures("spark")
class TestSparkModes:
    def test_ocr_only_pipeline_and_multipage_join(self, spark):
        from glm_ocr_spark.pipeline import (
            extract_transcripts,
            ocr_only_conversation_markdown,
        )
        import datetime as dt

        rows = [
            ("c1", 0, "user", "<p>page one</p>", "", dt.datetime(2026, 1, 1)),
            ("c1", 1, "user", "page two", "", dt.datetime(2026, 1, 1)),
            ("c2", 0, "user", "solo", "", dt.datetime(2026, 1, 1)),
        ]
        df = spark.createDataFrame(
            rows, "conv_id string, turn_idx int, role string, text string, "
                  "tool string, ts timestamp")
        out = extract_transcripts(df, mode="ocr_only")
        md = {r["conv_id"]: r["conversation_markdown"]
              for r in ocr_only_conversation_markdown(out).collect()}
        # multi-page units join with the reference's '\n\n---\n\n' separator
        assert md["c1"] == "page one\n\n---\n\npage two"
        assert md["c2"] == "solo"

    def test_dead_letter_captures_error(self, spark, monkeypatch):
        import datetime as dt

        import glm_ocr_spark.pipeline as pl

        def poisoned(payload):
            if payload == "BOOM":
                raise ValueError("injected kernel bug")
            return pl.extract_turn(payload)

        rows = [
            ("c1", 0, "user", "fine text", "", dt.datetime(2026, 1, 1)),
            ("c1", 1, "user", "BOOM", "", dt.datetime(2026, 1, 1)),
        ]
        df = spark.createDataFrame(
            rows, "conv_id string, turn_idx int, role string, text string, "
                  "tool string, ts timestamp")

        def body(batches):
            yield from pl._extract_arrow_batches(batches, extractor=poisoned)

        out = (df.select("conv_id", "turn_idx", "role", "text", "tool")
               .mapInArrow(body, schema=pl.EXTRACTED_SCHEMA)
               .orderBy("turn_idx").collect())
        assert out[0]["error"] is None
        assert out[0]["extracted_text"] == "fine text"
        assert out[1]["error"] == "ValueError: injected kernel bug"
        assert out[1]["extracted_text"] is None
        assert out[1]["json"] == "[[]]"

    def test_error_column_null_on_healthy_corpus(self, spark):
        from glm_ocr_spark.data.gen import transcripts_df
        from glm_ocr_spark.pipeline import extract_transcripts

        df = transcripts_df(spark, 0.001).filter("turn_idx < 8")
        bad = extract_transcripts(df).filter("error IS NOT NULL").count()
        assert bad == 0
