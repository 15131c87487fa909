"""Spark extraction pipeline: transcripts table -> extracted table.

Design (SURVEY.md §7.0): per-turn work is pure and independent, so the whole
extraction is a single `mapInArrow` — a shuffle-free narrow map. The batch
job (`run`) adds one range exchange for ordered output, and it sits below
the kernel: it shuffles the scanned input rows, payloads included, so the
kernel runs once per row. Outputs are ~1.48x the input bytes
(`out_bytes_per_in_byte` on perfbench extract_batch), so the input is the
smaller side to shuffle: 3.12 MB of sink shuffle on that workload, against
4.09 MB when the exchange ran on the kernel output (where the range
sampler also evaluated the kernel a second time per row).

Scale notes (100 TB / 10^12 turns):
  - No groupBy/join anywhere in the hot path: throughput scales linearly with
    executors; scaling efficiency is bounded only by input split balance.
  - Skew: a single 10^6-turn conversation is harmless because the unit of
    parallelism is the *turn*, not the conversation.
  - Arrow batches bound executor memory (spark.sql.execution.arrow.
    maxRecordsPerBatch); payloads never accumulate beyond one batch.
  - Filter/prune: reading from parquet/Iceberg, only the 5 input columns are
    scanned (ReadSchema pruning), and `role`/`tool` predicates push down.

Reference trace replaced: the 3-thread queue pipeline
(/root/reference/glmocr/pipeline/pipeline.py:282-605) becomes Spark stage
pipelining; the per-region HTTP fan-out (:430-507) becomes per-batch
vectorized kernel calls.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from glm_ocr_spark.functions.text import ordered_join_col
from glm_ocr_spark.kernel.extract import extract_turn
from glm_ocr_spark.sources import read_transcripts

SPAN_TYPE = T.ArrayType(
    T.StructType([
        T.StructField("start", T.IntegerType()),
        T.StructField("end", T.IntegerType()),
        T.StructField("label", T.StringType()),
    ])
)

EXTRACTED_SCHEMA = T.StructType([
    T.StructField("conv_id", T.StringType()),
    T.StructField("turn_idx", T.IntegerType()),
    T.StructField("role", T.StringType()),
    T.StructField("extracted_text", T.StringType()),
    T.StructField("markdown", T.StringType()),
    T.StructField("json", T.StringType()),
    T.StructField("spans", SPAN_TYPE),
    T.StructField("n_blocks", T.IntegerType()),
    # dead-letter column (X8 retry_handler/dead-letter analog,
    # apps/backend/app/core/retry_handler.py:18-140): a poisoned payload is
    # recorded, never fatal — one bad row must not fail a 10^12-row job
    T.StructField("error", T.StringType()),
])


def get_spark(app: str = "glm-ocr-spark", master: str | None = None,
              shuffle_partitions: int = 32,
              extra_conf: dict | None = None) -> SparkSession:
    # Shuffle/spill scratch lives under the repo, not /tmp: this sandbox
    # reaps /tmp entries mid-run (a ~25-min bench pass died 2026-08-17
    # with its blockmgr dir deleted under it — ENOENT on temp_shuffle
    # renames), and any long job sharing fate with a tmp cleaner is a
    # latent crash. Spark gives each app a unique blockmgr subdir, so
    # concurrent JVMs can share this root. On a real cluster this is
    # spark.local.dir on fast instance storage.
    scratch = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ".bench", "sparktmp")
    try:
        os.makedirs(scratch, exist_ok=True)
        # prove writability, not just existence: a pre-existing dir on a
        # read-only mount passes makedirs(exist_ok=True) but executors
        # would die later at shuffle-write time (round-5 advice)
        import tempfile

        with tempfile.NamedTemporaryFile(dir=scratch):
            pass
    except OSError:  # read-only deploy root: fall back to Spark's default
        scratch = None
    b = (
        SparkSession.builder.appName(app)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 2048-row Arrow batches: bigger batches raise throughput a little
        # but 32 concurrent tasks x multi-MB buffers blows the 1 GiB netty
        # direct-memory cap at sf0.1 payload sizes; 2048 + 2g headroom is the
        # stable point.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.driver.extraJavaOptions", "-XX:MaxDirectMemorySize=2g")
        .config("spark.sql.session.timeZone", "UTC")
        # CPU-bound Arrow-UDF extraction wants far smaller input splits than
        # the 128 MB scan default: one split must be minutes of CPU, not
        # hours, and there must be >= cores splits for small inputs too.
        .config("spark.sql.files.maxPartitionBytes", "8m")
        .config("spark.sql.files.openCostInBytes", "512k")
    )
    if scratch:
        b = b.config("spark.local.dir", scratch)
    if master:
        b = b.master(master)
    for k, v in (extra_conf or {}).items():
        # static confs (e.g. spark.sql.warehouse.dir) must be set before
        # the session exists — this is the hook tools use for them
        b = b.config(k, v)
    return b.getOrCreate()


def _extract_arrow_batches(batches, passthrough=(), extractor=None):
    """mapInArrow body over Arrow record batches of (conv_id, turn_idx,
    role, text, tool, *passthrough); per-turn kernel calls inside the batch
    (the reference also loops per page within a GPU batch,
    layout_detector.py:186-251). Key and passthrough columns are forwarded
    zero-copy, payloads cross the boundary once (to_pylist), and outputs
    are built by pyarrow's C++ converters (spans as list<struct> straight
    from the kernel's (start, end, label) tuples, no per-span dicts).

    Turns with a non-empty `tool` are the skip-task analog (FIXTURES.md
    §1): kept, but content is None. A turn whose extraction raises is
    dead-lettered into the `error` column instead of failing the task."""
    import pyarrow as pa

    fn = extractor or extract_turn
    spans_type = pa.list_(pa.struct([
        ("start", pa.int32()), ("end", pa.int32()), ("label", pa.string())]))
    names = ["conv_id", "turn_idx", "role", "extracted_text", "markdown",
             "json", "spans", "n_blocks", "error", *passthrough]
    for batch in batches:
        texts = batch.column(3).to_pylist()
        tools = batch.column(4).to_pylist()
        n = batch.num_rows
        ext = [None] * n
        md = [None] * n
        js = [None] * n
        spans: list = [()] * n
        nb = [0] * n
        err = [None] * n
        for i in range(n):
            tool = tools[i]
            if tool is not None and tool != "":
                js[i] = "[[]]"
                continue
            try:
                r = fn(texts[i])
            except Exception as e:  # noqa: BLE001 - dead-letter, never fatal
                js[i] = "[[]]"
                err[i] = f"{type(e).__name__}: {e}"[:500]
                continue
            ext[i] = r["extracted_text"]
            md[i] = r["markdown"]
            js[i] = r["json"]
            spans[i] = r["spans"]
            nb[i] = r["n_blocks"]
        arrays = [
            batch.column(0), batch.column(1), batch.column(2),
            pa.array(ext, type=pa.string()),
            pa.array(md, type=pa.string()),
            pa.array(js, type=pa.string()),
            pa.array(spans, type=spans_type),
            pa.array(nb, type=pa.int32()),
            pa.array(err, type=pa.string()),
        ]
        for k in range(len(passthrough)):
            arrays.append(batch.column(5 + k))
        yield pa.RecordBatch.from_arrays(arrays, names=names)


def extract_transcripts(df: DataFrame,
                        passthrough: tuple[str, ...] = (),
                        mode: str = "layout",
                        config=None) -> DataFrame:
    """transcripts(conv_id, turn_idx, role, text, tool, ts) -> extracted.

    Narrow map: no shuffle, no collect. Column-prunes its own input so a
    SELECT * upstream still reads only what the kernel needs. `passthrough`
    names extra input columns copied verbatim to the output (e.g. `ts` for
    streaming watermarks). `mode`: "layout" (full block pipeline) or
    "ocr_only" (whole payload as one region — the reference's
    enable_layout=false path, pipeline.py:175-280).
    """
    if mode == "ocr_only":
        from glm_ocr_spark.kernel.extract import extract_turn_ocr_only
        extractor = extract_turn_ocr_only
    elif config is not None:
        import functools
        extractor = functools.partial(extract_turn, config=config)
    else:
        extractor = None
    schema = T.StructType(EXTRACTED_SCHEMA.fields + [
        df.schema[c] for c in passthrough
    ])
    # the body forwards the key columns as-is, so they must already carry
    # the output types (a bigint turn_idx would abort the job at read
    # time); same-type casts are dropped by the optimizer
    keys = [F.col(f.name).cast(f.dataType).alias(f.name)
            for f in EXTRACTED_SCHEMA.fields[:3]]
    cols = [*keys, "text", "tool", *passthrough]

    def body(batches):
        yield from _extract_arrow_batches(batches, passthrough=passthrough,
                                          extractor=extractor)

    return df.select(*cols).mapInArrow(body, schema=schema)


def ocr_only_conversation_markdown(extracted: DataFrame) -> DataFrame:
    """Multi-page OCR-only markdown: turns joined with '\\n\\n---\\n\\n'
    (reference format_multi_page_results, result_formatter.py:100-129)."""
    return (
        extracted.groupBy("conv_id")
        .agg(
            F.count("*").alias("n_turns"),
            ordered_join_col("turn_idx", "markdown", "\n\n---\n\n")
            .alias("conversation_markdown"),
        )
    )


def conversation_rollup(extracted: DataFrame,
                        salt_block: int = 4096) -> DataFrame:
    """Unit-level assembly (J7/A2/A5 of SURVEY.md §2): turns -> one row per
    conversation with ordered markdown joined '\\n\\n' (the reference joins a
    unit's pages the same way, result_formatter.py:206-210; server merge
    server.py:113-117) plus block/turn counts.

    Salted two-level aggregate (SCALE.md skew plan, implemented round 2):
    level 1 concatenates per (conv_id, turn_idx // salt_block) — a
    pathological 10^6-turn conversation is split across ~10^6/salt_block
    reducers instead of building its whole array on one task — and level 2
    merges the ordered block partials per conv_id. Turn order is preserved:
    blocks are disjoint turn_idx ranges, sorted by block id at level 2 and
    by turn_idx inside each block at level 1. Payload columns are long gone
    by this point, so both shuffles are output-sized.
    """
    blk = (F.col("turn_idx") / F.lit(salt_block)).cast("long")
    # null markdown (skip-task turns) must vanish without leaving a
    # delimiter, exactly like array_join's null-skipping in a single-level
    # concat: collect only non-null turns per block, and only non-empty
    # blocks (n_md > 0) per conversation.
    partial = (
        extracted.groupBy("conv_id", blk.alias("blk"))
        .agg(
            F.count("*").alias("n_turns"),
            F.sum("n_blocks").alias("n_blocks_total"),
            F.count("markdown").alias("n_md"),
            ordered_join_col("turn_idx", "markdown", "\n\n",
                             keep=F.col("markdown").isNotNull()).alias("md"),
        )
    )
    return (
        partial.groupBy("conv_id")
        .agg(
            F.sum("n_turns").alias("n_turns"),
            F.sum("n_blocks_total").alias("n_blocks_total"),
            ordered_join_col("blk", "md", "\n\n", keep=F.col("n_md") > 0)
            .alias("conversation_markdown"),
        )
    )


def _run_plan(spark: SparkSession, input_path: str, fmt: str = "parquet",
              mode: str = "layout", config=None) -> DataFrame:
    """The DataFrame `run` writes: scan -> range exchange on the input keys
    -> kernel -> in-partition sort.

    The exchange sits below the kernel because RangePartitioner runs a
    sampling job over its child: above the kernel, that job evaluated the
    kernel a second time per row. The key columns pass through the kernel
    unchanged, so the bounds and per-file order are the same either way.
    The explicit partition count (one per scan split) makes the exchange
    REPARTITION_BY_NUM, which AQE never coalesces, so the kernel keeps one
    task per input split.
    """
    df = read_transcripts(spark, input_path, fmt)
    n = max(1, df.rdd.getNumPartitions())
    ranged = df.repartitionByRange(n, "conv_id", "turn_idx")
    return (extract_transcripts(ranged, mode=mode, config=config)
            .sortWithinPartitions("conv_id", "turn_idx"))


def run(spark: SparkSession, input_path: str, output_path: str,
        fmt: str = "parquet", mode: str = "layout", config=None) -> None:
    """Batch job entry: read transcripts, extract, write partitioned output.

    Output is ordered within files by (conv_id, turn_idx), and the files in
    name order hold disjoint, increasing key ranges (north-rule stable
    ordering), without a global single-reducer sort. The range exchange
    shuffles the scanned input rows, payloads included, before the kernel
    runs once per row; see `_run_plan`. Outputs are ~1.48x the input bytes
    (`out_bytes_per_in_byte` on perfbench extract_batch), so this moves less
    than shuffling the kernel output did (sink shuffle 4.09 -> 3.12 MB on
    that workload). `mode`/`config` come from the resolution chain
    (config_loader.load_config: kwargs > env > .env > YAML > defaults).
    `fmt` names the input format only: the output is always parquet, since
    CSV and JSON cannot hold the `spans` array of structs.
    """
    (
        _run_plan(spark, input_path, fmt=fmt, mode=mode, config=config)
        .write.mode("overwrite")
        .parquet(output_path)
    )
