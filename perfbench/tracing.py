"""Kernel stage timing from outside the program.

In the benchmark process, `traced_extraction` swaps
`pipeline._extract_arrow_batches` for a wrapper defined here while a job's
plan is built; cloudpickle ships the wrapper inside the `mapInArrow` closure. In each Python worker the
wrapper installs timers around the kernel's stage functions by module
attribute, runs the original body, restores the functions when the
partition ends, and sends its counters back through an accumulator.
"""

from __future__ import annotations

import contextlib
import time

from pyspark.accumulators import AccumulatorParam

SLOTS = (
    "rows", "batches", "fetch_ns", "body_ns",
    "segment_ns", "segment_calls", "segment_blocks", "segment_fallbacks",
    "geometry_ns", "small_pages", "small_in", "small_out",
    "numpy_pages", "numpy_in", "numpy_out",
    "recognize_ns", "recognize_calls", "format_ns", "format_calls",
)
_I = {name: i for i, name in enumerate(SLOTS)}


class VectorParam(AccumulatorParam):
    """Element-wise sum of fixed-length counter lists."""

    def zero(self, value):
        return [0] * len(value)

    def addInPlace(self, a, b):
        for i, v in enumerate(b):
            a[i] += v
        return a


def _post_segment_rows(c, args, out):
    c[_I["segment_calls"]] += 1
    if out is None:
        c[_I["segment_fallbacks"]] += 1
    else:
        c[_I["segment_blocks"]] += len(out[2])


def _post_segment(c, args, out):
    c[_I["segment_blocks"]] += len(out[2])


def _post_small(c, args, out):
    c[_I["small_pages"]] += 1
    c[_I["small_in"]] += len(args[0])
    c[_I["small_out"]] += len(out)


def _post_nms(c, args, out):
    c[_I["numpy_pages"]] += 1
    c[_I["numpy_in"]] += len(args[0])


def _post_clamp(c, args, out):
    c[_I["numpy_out"]] += len(out[1])


def _count(slot):
    def post(c, args, out):
        c[_I[slot]] += 1
    return post


def _patches():
    """(module, attribute, time slot, counter hook) for every stage function
    `kernel.extract.extract_turn` calls. The extract module imported some of
    them by name, so those are patched where extract_turn looks them up."""
    from glm_ocr_spark.kernel import extract, geometry, geometry_py

    return [
        (extract, "segment_rows", "segment_ns", _post_segment_rows),
        (extract, "segment", "segment_ns", _post_segment),
        (geometry_py, "survivors_small", "geometry_ns", _post_small),
        (geometry, "nms", "geometry_ns", _post_nms),
        (geometry, "filter_oversized_images", "geometry_ns", None),
        (geometry, "apply_merge_modes", "geometry_ns", None),
        (geometry, "xy_cut_order", "geometry_ns", None),
        (geometry, "unclip", "geometry_ns", None),
        (geometry, "clamp_and_validate", "geometry_ns", _post_clamp),
        (extract, "recognize", "recognize_ns", _count("recognize_calls")),
        (extract, "format_content", "recognize_ns", None),
        (extract, "finalize_page", "format_ns", _count("format_calls")),
        (extract, "merge_formula_numbers", "format_ns", None),
        (extract, "merge_text_blocks", "format_ns", None),
        (extract, "format_bullet_points", "format_ns", None),
    ]


def _timed(fn, counts, slot, post):
    clock = time.perf_counter_ns
    i = _I[slot]

    def wrapper(*args, **kwargs):
        t0 = clock()
        out = fn(*args, **kwargs)
        counts[i] += clock() - t0
        if post is not None:
            post(counts, args, out)
        return out
    return wrapper


def install(counts: list) -> list:
    """Wrap the stage functions; returns the originals for `uninstall`."""
    saved = []
    for module, name, slot, post in _patches():
        fn = getattr(module, name)
        saved.append((module, name, fn))
        setattr(module, name, _timed(fn, counts, slot, post))
    return saved


def uninstall(saved: list) -> None:
    for module, name, fn in reversed(saved):
        setattr(module, name, fn)


def _fetch(batches, counts):
    """Forward input batches, counting rows and the time spent waiting for
    Spark to hand over each batch (the inbound boundary)."""
    it = iter(batches)
    clock = time.perf_counter_ns
    while True:
        t0 = clock()
        try:
            batch = next(it)
        except StopIteration:
            return
        counts[_I["fetch_ns"]] += clock() - t0
        counts[_I["rows"]] += batch.num_rows
        yield batch


def traced_body(original, acc):
    """A stand-in for `_extract_arrow_batches` that times `original`."""
    def body(batches, passthrough=(), extractor=None):
        counts = [0] * len(SLOTS)
        saved = install(counts)
        try:
            gen = original(_fetch(batches, counts), passthrough=passthrough,
                           extractor=extractor)
            clock = time.perf_counter_ns
            while True:
                t0 = clock()
                try:
                    out = next(gen)
                except StopIteration:
                    break
                counts[_I["body_ns"]] += clock() - t0
                counts[_I["batches"]] += 1
                yield out
        finally:
            uninstall(saved)
            acc.add(counts)
    return body


@contextlib.contextmanager
def traced_extraction(spark):
    """Plans built inside this block time the kernel stages; yields the
    accumulator that collects the counters (read it after the job)."""
    from glm_ocr_spark import pipeline

    acc = spark.sparkContext.accumulator([0] * len(SLOTS), VectorParam())
    original = pipeline._extract_arrow_batches
    pipeline._extract_arrow_batches = traced_body(original, acc)
    try:
        yield acc
    finally:
        pipeline._extract_arrow_batches = original


def stage_metrics(counts: list, input_rows: int) -> dict:
    """Per-layer kernel metrics from one job's counters."""
    c = dict(zip(SLOTS, counts))
    s = {k: c[f"{k}_ns"] / 1e9
         for k in ("segment", "geometry", "recognize", "format")}
    kernel_s = (c["body_ns"] - c["fetch_ns"]) / 1e9
    blocks_in = c["small_in"] + c["numpy_in"]
    return {
        "kernel.evals_per_row": c["rows"] / input_rows if input_rows else 0.0,
        "kernel.task_s": kernel_s,
        "kernel.turns_per_core_s": c["rows"] / kernel_s if kernel_s else 0.0,
        "kernel.stage_cover": sum(s.values()) / kernel_s if kernel_s else 0.0,
        "boundary.fetch_s": c["fetch_ns"] / 1e9,
        "segment.s": s["segment"],
        "segment.calls": c["segment_calls"],
        "segment.blocks": c["segment_blocks"],
        "segment.fallback_frac": (c["segment_fallbacks"] / c["segment_calls"]
                                  if c["segment_calls"] else 0.0),
        "geometry.s": s["geometry"],
        "geometry.small_pages": c["small_pages"],
        "geometry.numpy_pages": c["numpy_pages"],
        "geometry.survival": ((c["small_out"] + c["numpy_out"]) / blocks_in
                              if blocks_in else 0.0),
        "recognize.s": s["recognize"],
        "recognize.calls": c["recognize_calls"],
        "format.s": s["format"],
        "format.calls": c["format_calls"],
    }
