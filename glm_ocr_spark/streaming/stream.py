"""Structured Streaming: continuous extraction over arriving transcripts.

The reference's 3-stage threaded pipeline with bounded queues and per-unit
readiness counting (/root/reference/glmocr/pipeline/pipeline.py:282-605,
X1-X4 of SURVEY.md §2.8) maps onto Structured Streaming:

  - bounded queues / backpressure  -> micro-batch sizing
    (maxFilesPerTrigger / maxOffsetsPerTrigger)
  - per-page recognition fan-out   -> the same zero-shuffle mapInArrow
    extraction, applied per micro-batch
  - per-unit readiness + ordered emission (A3/X4: emit a unit when all its
    pages are done) -> event-time watermark + per-conversation windowed
    aggregation: a conversation's rollup is emitted once its turns' event
    times pass the watermark.

Batch and streaming share the exact same extraction transformation —
`extract_transcripts` is stream-safe (stateless narrow map).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from glm_ocr_spark.operators.norm import content_hash_col
from glm_ocr_spark.pipeline import extract_transcripts


def read_transcripts_stream(spark: SparkSession, input_path: str,
                            max_files_per_trigger: int = 8) -> DataFrame:
    """File-source stream over a transcripts parquet directory. The schema
    comes from the static reader (file streams require an explicit schema)."""
    schema = spark.read.parquet(input_path).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_path)
    )


def extract_stream(transcripts: DataFrame) -> DataFrame:
    """Streaming extraction: identical plan to the batch path (stateless)."""
    return extract_transcripts(transcripts)


def stateful_conversation_tracker(transcripts: DataFrame) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState) keyed by conv_id:
    the direct analog of the reference's per-unit done-counting state
    (_AsyncPipelineState.unit_done_counts + maybe_notify_ready_units,
    pipeline.py:35-54, 389-428). Each micro-batch updates a persistent
    (turns_done, blocks_total, max_turn_idx) triple per conversation and
    emits the updated snapshot — O(1) state per key, like the reference's
    counters."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    extracted = extract_transcripts(transcripts)

    output_schema = ("conv_id string, turns_done long, blocks_total long, "
                     "max_turn_idx int")
    state_schema = "turns_done long, blocks_total long, max_turn_idx int"

    def update(key, pdfs, state: GroupState):
        turns, blocks, max_idx = (state.get if state.exists
                                  else (0, 0, -1))
        for pdf in pdfs:
            turns += len(pdf)
            blocks += int(pdf["n_blocks"].fillna(0).sum())
            if len(pdf):
                max_idx = max(max_idx, int(pdf["turn_idx"].max()))
        state.update((turns, blocks, max_idx))
        yield pd.DataFrame({
            "conv_id": [key[0]],
            "turns_done": [turns],
            "blocks_total": [blocks],
            "max_turn_idx": [max_idx],
        })

    return (
        extracted.groupBy("conv_id")
        .applyInPandasWithState(
            update,
            outputStructType=output_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def streaming_exact_dedup(transcripts: DataFrame,
                          watermark: str = "10 minutes") -> DataFrame:
    """Streaming exact dedup: first occurrence of each normalized-content
    hash within the watermark horizon passes, later copies are dropped.

    `dropDuplicatesWithinWatermark` keeps state only until the watermark
    passes a key's event time — bounded state at unbounded stream length,
    the streaming analog of the batch hash-groupBy dedup. Content hash is
    `norm.content_hash_col`, as in `operators.dedup.exact_dedup`, so batch
    and stream agree on what counts as a duplicate.
    """
    return (
        transcripts.withColumn("content_hash", content_hash_col())
        .withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["content_hash"])
    )


def conversation_progress_stream(transcripts: DataFrame,
                                 watermark: str = "10 minutes",
                                 window: str = "1 hour") -> DataFrame:
    """Per-conversation completion rollup (A3/X4 analog): counts turns and
    extracted blocks per conversation, emitting finalized rows as event time
    passes the watermark. Late turns beyond the watermark are dropped, the
    streaming analog of the reference's done-counting emission gate
    (pipeline.py:389-428)."""
    extracted = extract_transcripts(transcripts, passthrough=("ts",))
    return (
        extracted.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), F.col("conv_id"))
        .agg(
            F.count("*").alias("turns_done"),
            F.sum("n_blocks").alias("blocks_total"),
            F.max("turn_idx").alias("max_turn_idx"),
        )
    )
