"""End-to-end correctness gate: per-turn text+span equality between the
vectorized kernel / Spark pipeline and the independent single-node oracle
(BASELINE.json north_rule: "matching the reference's extracted text/spans per
turn (per-turn text equality under stable turn ordering)")."""

import pytest

from glm_ocr_spark.data.gen import (
    conv_id_of,
    gen_turn_payload,
    n_conversations,
    n_turns,
    transcripts_df,
)
from glm_ocr_spark.kernel.extract import extract_turn
from tests.oracle import oracle_extract_turn

FIELDS = ("extracted_text", "markdown", "json", "spans", "n_blocks")


def _oracle_for(conv_id: str, turn_idx: int):
    _, text, tool = gen_turn_payload(conv_id, turn_idx)
    return oracle_extract_turn(text, tool)


class TestKernelVsOracle:
    """Kernel-level equality over a broad deterministic corpus (no Spark)."""

    def test_full_sf0001_corpus(self):
        mismatches = []
        for c in range(n_conversations(0.001)):
            cid = conv_id_of(c)
            for t in range(min(n_turns(c), 60)):
                role, text, tool = gen_turn_payload(cid, t)
                if tool:
                    continue
                k = extract_turn(text)
                o = oracle_extract_turn(text, tool)
                for f in FIELDS:
                    if k[f] != o[f]:
                        mismatches.append((cid, t, f, k[f], o[f]))
                        break
        assert not mismatches, f"{len(mismatches)} mismatches, first: " \
                               f"{mismatches[0][:3]}"

    def test_empty_and_null_payloads(self):
        assert extract_turn("") == extract_turn(None)
        assert extract_turn("")["json"] == "[[]]"

    def test_malformed_annotations_never_raise(self):
        # one bad row must not kill a 100 TB job: malformed score/order/bbox
        # fall back to defaults (score 1.0, order missing -> XY-cut, full page)
        cases = [
            '<block label="text" score="abc" bbox="0,0,10">x</block>',
            '<block label="text" score="0.9" bbox="broken">unclosed',
            '<block label="nosuchlabel" score="0.9" bbox="0,0,10,10" '
            'order="x">x</block>',
        ]
        for payload in cases:
            k = extract_turn(payload)
            o = oracle_extract_turn(payload, "")
            assert k["json"] == o["json"], payload

    def test_unstructured_payload_single_block(self):
        r = extract_turn("just a bare paragraph of text")
        assert r["n_blocks"] == 1
        assert r["extracted_text"] == "just a bare paragraph of text"
        assert r["spans"] == [(0, 29, "text")]


@pytest.mark.usefixtures("spark")
class TestSparkVsOracle:
    """Distributed pipeline equality: Spark mapInArrow output must match the
    oracle row-for-row under stable (conv_id, turn_idx) ordering."""

    def test_extract_pipeline_sf0001_sample(self, spark):
        from glm_ocr_spark.pipeline import extract_transcripts

        df = transcripts_df(spark, 0.001, num_partitions=8)
        sample = df.filter("turn_idx < 30")
        out = (
            extract_transcripts(sample)
            .orderBy("conv_id", "turn_idx")
            .collect()
        )
        assert len(out) > 0
        bad = 0
        for row in out:
            o = _oracle_for(row["conv_id"], row["turn_idx"])
            got_spans = [(s["start"], s["end"], s["label"]) for s in row["spans"]]
            if (row["extracted_text"] != o["extracted_text"]
                    or row["markdown"] != o["markdown"]
                    or row["json"] != o["json"]
                    or got_spans != o["spans"]
                    or row["n_blocks"] != o["n_blocks"]):
                bad += 1
                if bad == 1:
                    first = (row["conv_id"], row["turn_idx"])
            assert bad == 0, f"first mismatch at {first}"

    def test_wide_key_columns_cast_to_schema(self, spark):
        """A bigint turn_idx (what a JSON or pandas source infers) is cast to
        the output schema's int instead of aborting the job; correctly typed
        keys plan without a cast."""
        from glm_ocr_spark.pipeline import extract_transcripts

        cid = conv_id_of(0)
        rows = [(cid, t, *gen_turn_payload(cid, t)) for t in range(4)]
        wide = spark.createDataFrame(
            rows, "conv_id string, turn_idx bigint, role string, "
                  "text string, tool string")
        out = extract_transcripts(wide)
        assert out.schema["turn_idx"].dataType.simpleString() == "int"
        got = sorted(out.collect(), key=lambda r: r["turn_idx"])
        assert [r["turn_idx"] for r in got] == [0, 1, 2, 3]
        for r in got:
            assert r["error"] is None
            assert r["json"] == _oracle_for(cid, r["turn_idx"])["json"]

        typed = extract_transcripts(wide.selectExpr(
            "conv_id", "CAST(turn_idx AS INT) AS turn_idx", "role", "text",
            "tool").localCheckpoint())
        plan = typed._jdf.queryExecution().optimizedPlan().toString()
        assert "cast(" not in plan.lower()

    def test_ordering_stable(self, spark):
        from glm_ocr_spark.pipeline import extract_transcripts

        df = transcripts_df(spark, 0.001, num_partitions=4).filter("turn_idx < 5")
        out = extract_transcripts(df).orderBy("conv_id", "turn_idx")
        keys = [(r["conv_id"], r["turn_idx"]) for r in out.collect()]
        assert keys == sorted(keys)
        assert len(set(keys)) == len(keys)

    def test_tool_turns_skipped(self, spark):
        from glm_ocr_spark.pipeline import extract_transcripts

        df = transcripts_df(spark, 0.001, num_partitions=4).filter(
            "turn_idx = 3 AND turn_idx % 5 = 3"
        )
        rows = extract_transcripts(df).collect()
        assert len(rows) > 0
        for r in rows:
            assert r["extracted_text"] is None
            assert r["n_blocks"] == 0

    def test_no_shuffle_in_plan(self, spark):
        """The extraction itself must be a narrow map: no Exchange operator
        (north rule: shuffle bounded by map-side scoring)."""
        from glm_ocr_spark.pipeline import extract_transcripts

        df = transcripts_df(spark, 0.001, num_partitions=4)
        plan = extract_transcripts(df)._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
