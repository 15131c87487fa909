"""Curation-operator tests: PII scrubbing, benchmark decontamination,
C4-rule filters (operators/curation.py). The full-value gate is the DuckDB
oracle in driver_sim; these cover edges the corpus doesn't exercise plus
the Spark-vs-DuckDB regex-dialect parity the oracle equality depends on,
and the plan shapes (no shuffle in the narrow maps, broadcast in the
decontamination join)."""

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


# ------------------------------------------------------------- PII scrubbing

PII_CASES = [
    # (text, expected_scrubbed, n_emails, n_phones)
    ("mail me at a.b+tag@sub.example.org thanks",
     "mail me at <EMAIL> thanks", 1, 0),
    ("two: x@y.io and z%q@host.co end",
     "two: <EMAIL> and <EMAIL> end", 2, 0),
    ("call 415-555-1234 now", "call <PHONE> now", 0, 1),
    ("intl +1 415-555-1234 or (415) 555-9876",
     "intl <PHONE> or <PHONE>", 0, 2),
    ("dots 415.555.1234 end", "dots <PHONE> end", 0, 1),
    ("bare 4155551234 has no separator so no match",
     "bare 4155551234 has no separator so no match", 0, 0),
    ("not-an-email a@b (no tld dot)", "not-an-email a@b (no tld dot)", 0, 0),
    ("both x@y.com and 212-555-0000.", "both <EMAIL> and <PHONE>.", 1, 1),
    ("", "", 0, 0),
]


def test_pii_scrub_cases(spark):
    from glm_ocr_spark.operators.curation import pii_scrub

    docs = spark.createDataFrame(
        [(i, t) for i, (t, *_rest) in enumerate(PII_CASES)],
        "doc_id long, text string")
    rows = {r["doc_id"]: r for r in pii_scrub(docs).collect()}
    for i, (text, want, n_em, n_ph) in enumerate(PII_CASES):
        assert rows[i]["text_scrubbed"] == want, (text, rows[i])
        assert rows[i]["n_emails"] == n_em, text
        assert rows[i]["n_phones"] == n_ph, text


def test_pii_regex_dialect_parity():
    """The oracle equality rests on Java regex and DuckDB's RE2 agreeing
    on these patterns — assert it directly on the edge cases."""
    duckdb = pytest.importorskip("duckdb")
    from glm_ocr_spark.operators.curation import (
        EMAIL_PATTERN,
        PHONE_PATTERN,
    )

    for text, want, n_em, n_ph in PII_CASES:
        got = duckdb.sql(
            "SELECT regexp_replace(regexp_replace(?, ?, '<EMAIL>', 'g'),"
            " ?, '<PHONE>', 'g')",
            params=[text, EMAIL_PATTERN, PHONE_PATTERN]).fetchone()[0]
        assert got == want, text


# -------------------------------------------------- benchmark decontamination


def test_decontaminate_planted_overlap(spark):
    from glm_ocr_spark.operators.curation import decontaminate

    bench_text = "alpha beta gamma delta epsilon zeta eta"
    docs = spark.createDataFrame(
        [(1, bench_text, "bench"),                       # the benchmark doc
         # shares the 5-gram "beta gamma delta epsilon zeta" (and one more)
         (2, "xx beta gamma delta epsilon zeta eta yy", "train"),
         (3, "totally unrelated words go here now", "train"),
         (4, "too short", "train"),                      # < 5 words -> 0
         # duplicate 5-grams inside one doc count once (distinct)
         (5, "alpha beta gamma delta epsilon alpha beta gamma delta epsilon",
          "train")],
        "doc_id long, text string, source string")
    out = {r["doc_id"]: r
           for r in decontaminate(docs, ["bench"], n=5).collect()}
    assert set(out) == {2, 3, 4, 5}
    assert out[2]["n_overlap"] == 2 and out[2]["contaminated"]
    assert out[3]["n_overlap"] == 0 and not out[3]["contaminated"]
    assert out[4]["n_overlap"] == 0
    # doc 5: "alpha beta gamma delta epsilon" occurs twice in-doc but is
    # ONE distinct gram; its wrap-around grams (e.g. "beta gamma delta
    # epsilon alpha") are not in the benchmark -> exactly 1 overlap.
    assert out[5]["n_overlap"] == 1
    assert out[5]["contaminated"]


def test_decontaminate_plan_broadcasts_benchmark(spark):
    from glm_ocr_spark.operators.curation import decontaminate

    docs = spark.createDataFrame(
        [(1, "a b c d e f", "bench"), (2, "a b c d e g", "train")],
        "doc_id long, text string, source string")
    plan = decontaminate(docs, ["bench"])._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


# --------------------------------------------------------- C4-style filters


def test_c4_filter_rules(spark):
    from glm_ocr_spark.operators.curation import c4_filters

    docs = spark.createDataFrame(
        [(1, "this line has enough words and ends well."),
         (2, "no terminal punctuation here at all"),
         (3, "short one."),                                   # < 5 words
         (4, "contains a superduperhyperextralongword" + "x" * 30 + " end."),
         (5, "some Lorem Ipsum filler text appears here."),
         (6, "code with { brace } inside this line."),
         (7, "JavaScript required to view this page correctly."),
         (8, "")],
        "doc_id long, text string")
    rows = {r["doc_id"]: r for r in c4_filters(docs).collect()}
    assert rows[1]["keep"]
    assert not rows[2]["ok_terminal_punct"] and not rows[2]["keep"]
    assert not rows[3]["ok_min_words"]
    assert not rows[4]["ok_word_len"] and rows[4]["max_word_len"] > 25
    assert not rows[5]["ok_blocklist"]
    assert not rows[6]["ok_blocklist"]
    assert not rows[7]["ok_blocklist"]
    assert rows[8]["n_words"] == 0 and not rows[8]["keep"]


def test_curation_narrow_maps_have_no_shuffle(spark):
    """pii_scrub and c4_filters must be pure narrow maps — zero Exchange
    in the physical plan (the 100 TB scan-speed contract)."""
    from glm_ocr_spark.operators.curation import c4_filters, pii_scrub

    docs = spark.createDataFrame(
        [(1, "a b c d e."), (2, "x@y.io 415-555-1234")],
        "doc_id long, text string")
    for df in (pii_scrub(docs), c4_filters(docs)):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan


# ------------------------------------------------- end-to-end curation run


def test_curation_pipeline_stages(spark):
    from glm_ocr_spark.operators.curation import curation_pipeline

    def words(prefix, n):
        return " ".join(f"{prefix}{i}" for i in range(n))

    bench_text = words("b", 40)                      # benchmark doc
    contaminated = words("b", 12) + " " + words("x", 30)  # >2 shared 5-grams
    clean = words("c", 35)
    rows = [
        (0, "en", "benchsrc", bench_text),
        (1, "en", "s1", contaminated),               # dropped: decontam
        (2, "en", "s1", clean),                      # kept
        (3, "en", "s1", clean.upper()),              # dup after lower() norm
        (4, "en", "s1", words("d", 10)),             # dropped: < 30 words
    ]
    # source s2: 7 qualifying unique docs -> quota caps at 5
    rows += [(10 + i, "en", "s2", words(f"q{i}_", 32)) for i in range(7)]
    docs = spark.createDataFrame(
        rows, "doc_id long, lang string, source string, text string")
    out = curation_pipeline(docs, ["benchsrc"], min_words=30,
                            max_overlap=2, quota=5)
    got = {r["doc_id"] for r in out.collect()}
    assert got == {2, 10, 11, 12, 13, 14}
    # keeper of the (2,3) dup pair is the lowest doc_id
    assert 3 not in got


def test_curation_pipeline_plan_shape(spark):
    """One broadcast (benchmark n-grams); the corpus side has no
    cartesian/nested-loop join anywhere; the quota stage is one exchange on
    source fed by WindowGroupLimit's map-side Partial top-k."""
    from glm_ocr_spark.operators.curation import curation_pipeline

    docs = spark.createDataFrame(
        [(1, "en", "b", "a b c d e f"), (2, "en", "s", "g h i j k l")],
        "doc_id long, lang string, source string, text string")
    plan = curation_pipeline(docs, ["b"])._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan
    lines = plan.splitlines()
    on_source = [i for i, ln in enumerate(lines)
                 if "Exchange hashpartitioning(source#" in ln]
    assert len(on_source) == 1, plan
    below = lines[on_source[0] + 1]
    assert "WindowGroupLimit [source#" in below and "Partial" in below, plan


def test_c4_terminal_punct_line_terminator_parity(spark):
    """Round-4 advice: Java rlike's `$` matches before a trailing Unicode
    line terminator (U+2028/U+2029/U+0085) while RE2's `$` does not, and
    `\\s` is ASCII-only in both — the shared pattern lists the terminators
    explicitly so both engines agree on text ending with one."""
    duckdb = pytest.importorskip("duckdb")
    from pyspark.sql import functions as F

    from glm_ocr_spark.operators.curation import C4_TERMINAL_PUNCT

    cases = [
        ("ends clean.", True),
        ("ends clean. ", True),
        ("no punct", False),
        ("dot then ls.\u2028", True),
        ("dot then ps.\u2029", True),
        ("dot then nel.\u0085", True),
        ("ls no punct\u2028", False),
        ("dot then ls then text.\u2028x", False),
        # Java \\s includes \\x0B (vertical tab), RE2's does not — the
        # class lists it explicitly so both absorb a trailing period+VT
        ("dot then vt.\u000b", True),
        ("vt no punct\u000b", False),
    ]
    df = spark.createDataFrame([(t,) for t, _ in cases], ["text"])
    got_spark = [r["ok"] for r in df.select(
        F.col("text").rlike(C4_TERMINAL_PUNCT).alias("ok")).collect()]
    got_duck = [duckdb.sql(
        f"SELECT regexp_matches(?, '{C4_TERMINAL_PUNCT}')",
        params=[t]).fetchone()[0] for t, _ in cases]
    want = [w for _, w in cases]
    assert got_spark == want
    assert got_duck == want
