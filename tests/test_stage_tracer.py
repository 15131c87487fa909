"""The benchmark's stage tracer (`perfbench/tracing.py`) wraps kernel stage
functions by module attribute. A rename in the kernel would make
`--trace 1` fail, or leave it counting nothing; this pins the names and the
counters on five pages that cover every segmenter branch, no Spark needed."""

import random

from glm_ocr_spark.kernel import extract
from glm_ocr_spark.kernel.geometry_py import SMALL_N
from glm_ocr_spark.kernel.segment import segment
from perfbench import tracing
from perfbench.inputs import _dense_payload

PAGES = [
    # canonical attribute layout
    '<page w="1000" h="1000"/>\n'
    '<block label="doc_title" score="0.95" bbox="50,10,950,35" order="1">'
    'A title</block>\n'
    '<block label="text" score="0.9" bbox="50,40,950,300" order="2">'
    'Body text of the page.</block>',
    # an attribute value holding '>': the attributes end at that '>'
    '<block label="text" note="a > b" score="0.9" bbox="50,40,950,300" '
    'order="1">quoted comparison</block>',
    # <blockquote> next to an annotated block
    '<blockquote>not a block</blockquote>\n'
    '<block label="text" score="0.8" bbox="10,10,500,100" order="1">'
    'the only block</block>',
    # plain DOM
    '<h1>Plain heading</h1>\n<p>A paragraph of ordinary text.</p>\n\n'
    'A loose paragraph after a blank line.',
    # a dense page: more blocks than the small-page geometry path takes
    _dense_payload(random.Random(1), SMALL_N + 40, True),
]


def test_tracer_patches_resolve_and_count_pages():
    for module, name, _slot, _post in tracing._patches():
        assert callable(getattr(module, name, None)), (module, name)

    parsed = [segment(p) for p in PAGES]
    assert all(rows for _w, _h, rows, _s, _o in parsed)
    assert len(parsed[-1][2]) > SMALL_N

    counts = [0] * len(tracing.SLOTS)
    saved = tracing.install(counts)
    try:
        for p in PAGES:
            extract.extract_turn(p)
    finally:
        tracing.uninstall(saved)
    c = dict(zip(tracing.SLOTS, counts))

    assert c["segment_calls"] == len(PAGES)
    assert c["segment_blocks"] == sum(len(rows) for _w, _h, rows, _s, _o
                                      in parsed)
    assert c["segment_fallbacks"] == 0
    assert c["small_pages"] + c["numpy_pages"] == len(PAGES)
    assert c["numpy_pages"] == 1
    # uninstall restored every stage function
    assert extract.segment_rows is segment
