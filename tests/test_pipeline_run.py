"""`pipeline.run`, the batch job: written rows, file order, kernel passes
per row, the empty input, and the physical plan it writes."""

import contextlib
import datetime as dt
import glob
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import glm_ocr_spark.pipeline as pl
from glm_ocr_spark.data.gen import conv_id_of, gen_turn_payload

SCHEMA = pa.schema([
    ("conv_id", pa.string()),
    ("turn_idx", pa.int32()),
    ("role", pa.string()),
    ("text", pa.string()),
    ("tool", pa.string()),
    ("ts", pa.timestamp("us")),
])
N_FILES = 3
POISON = "POISONED PAYLOAD"


def _corpus_rows() -> list[dict]:
    """Six conversations of 14 turns (turn 0 is system, every t % 5 == 3 is a
    `tool` row) plus one turn whose payload the counting body poisons."""
    rows = []
    for c in range(6):
        cid = conv_id_of(c)
        for t in range(14):
            role, text, tool = gen_turn_payload(cid, t)
            rows.append({"conv_id": cid, "turn_idx": t, "role": role,
                         "text": text, "tool": tool,
                         "ts": dt.datetime(2026, 1, 1, 0, c, t)})
    rows.append({"conv_id": conv_id_of(2), "turn_idx": 14, "role": "user",
                 "text": POISON, "tool": "", "ts": dt.datetime(2026, 1, 2)})
    return rows


@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    """The rows shuffled into N_FILES parquet files, so every conversation
    spans several input files."""
    rows = _corpus_rows()
    random.Random(7).shuffle(rows)
    path = str(tmp_path_factory.mktemp("pipeline_run") / "in")
    os.makedirs(path)
    for k in range(N_FILES):
        pq.write_table(pa.Table.from_pylist(rows[k::N_FILES], SCHEMA),
                       os.path.join(path, f"part-{k}.parquet"))
    return path, len(rows)


@contextlib.contextmanager
def counting_kernel(spark):
    """Plans built inside this block count the rows their `mapInArrow` body
    receives into the yielded accumulator, and dead-letter POISON."""
    acc = spark.sparkContext.accumulator(0)
    original = pl._extract_arrow_batches

    def body(batches, passthrough=(), extractor=None):
        fn = extractor or pl.extract_turn

        def poisoned(text):
            if text == POISON:
                raise ValueError("poisoned payload")
            return fn(text)

        def counted():
            for batch in batches:
                acc.add(batch.num_rows)
                yield batch

        yield from original(counted(), passthrough=passthrough,
                            extractor=poisoned)

    pl._extract_arrow_batches = body
    try:
        yield acc
    finally:
        pl._extract_arrow_batches = original


def _part_files(path: str) -> list[str]:
    return sorted(glob.glob(os.path.join(path, "part-*.parquet")))


def test_run_writes_extract_transcripts_rows(spark, corpus, tmp_path):
    path, n_rows = corpus
    out = str(tmp_path / "out")
    with counting_kernel(spark) as acc:
        pl.run(spark, path, out)
    # the kernel sees every input row exactly once: nothing downstream of
    # the mapInArrow body (the range sampler included) evaluates it again
    assert acc.value == n_rows

    with counting_kernel(spark):
        want = pl.extract_transcripts(spark.read.parquet(path)).collect()
    got = spark.read.parquet(out).select(*want[0].__fields__).collect()
    key = lambda r: (r["conv_id"], r["turn_idx"])  # noqa: E731
    assert sorted(got, key=key) == sorted(want, key=key)
    assert len(got) == n_rows
    dead = [r for r in got if r["error"] is not None]
    assert [(r["turn_idx"], r["error"]) for r in dead] == [
        (14, "ValueError: poisoned payload")]
    tools = [r for r in got if r["role"] == "tool"]
    assert tools and all(r["extracted_text"] is None and r["json"] == "[[]]"
                         for r in tools)


def test_run_part_files_hold_disjoint_increasing_key_ranges(spark, corpus,
                                                            tmp_path):
    path, n_rows = corpus
    out = str(tmp_path / "out")
    with counting_kernel(spark):
        pl.run(spark, path, out)
    ranges, total = [], 0
    for f in _part_files(out):
        t = pq.read_table(f, columns=["conv_id", "turn_idx"])
        keys = list(zip(t.column(0).to_pylist(), t.column(1).to_pylist()))
        total += len(keys)
        if keys:
            assert keys == sorted(keys), f
            ranges.append((keys[0], keys[-1]))
    assert total == n_rows
    assert len(ranges) > 1
    for (_, hi), (lo, _) in zip(ranges, ranges[1:]):
        assert hi < lo


def test_run_zero_row_input_writes_zero_rows(spark, tmp_path):
    path = str(tmp_path / "in")
    os.makedirs(path)
    pq.write_table(SCHEMA.empty_table(), os.path.join(path, "part-0.parquet"))
    out = str(tmp_path / "out")
    pl.run(spark, path, out)
    assert spark.read.parquet(out).count() == 0


def test_run_plan_one_range_exchange_below_the_kernel(spark, corpus):
    path, _ = corpus
    splits = spark.read.parquet(path).rdd.getNumPartitions()
    assert splits == N_FILES
    plan = pl._run_plan(spark, path)._jdf.queryExecution() \
        .executedPlan().toString()
    assert plan.count("Exchange") == 1
    exchange = next(ln for ln in plan.splitlines() if "Exchange" in ln)
    assert "rangepartitioning(conv_id#" in exchange
    assert f" ASC NULLS FIRST, {splits}), REPARTITION_BY_NUM" in exchange
    # the tree prints top-down: the exchange is the kernel's child
    assert plan.index("MapInArrow") < plan.index("Exchange")
    read_schema = plan[plan.index("ReadSchema: "):].splitlines()[0]
    assert "conv_id" in read_schema and "text" in read_schema
    assert "ts:" not in read_schema


def test_run_csv_input_writes_every_row_as_parquet(spark, corpus, tmp_path):
    """`fmt` names the input format: a header CSV reads through the
    transcripts reader and the output is parquet, because CSV cannot hold
    the `spans` array of structs."""
    path, n_rows = corpus
    csv = str(tmp_path / "csv")
    (spark.read.parquet(path).write.option("header", "true")
     .option("escape", '"').csv(csv))
    out = str(tmp_path / "out")
    pl.run(spark, csv, out, fmt="csv")
    got = spark.read.parquet(out)
    assert got.count() == n_rows
    assert dict(got.dtypes)["spans"].startswith("array<struct<")
