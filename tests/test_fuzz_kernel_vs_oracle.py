"""Property-based fuzzing: for ANY payload, the vectorized kernel must match
the independent oracle byte-for-byte and never raise.

This goes beyond the deterministic generator's templates (which cover the
*intended* payload grammar): hypothesis builds adversarial block soups —
random attributes, broken geometry, nested/overlapping boxes, unicode,
stray markup — and the invariant is pure equality.
"""

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st

from glm_ocr_spark.config import ID2LABEL
from glm_ocr_spark.kernel.extract import extract_turn
from glm_ocr_spark.kernel.geometry_py import SMALL_N
from tests.oracle import oracle_extract_turn

FIELDS = ("extracted_text", "markdown", "json", "spans", "n_blocks")

LABELS = list(ID2LABEL.values()) + ["bogus_label", ""]

text_fragment = st.text(
    alphabet=st.characters(
        codec="utf-8",
        exclude_characters="<>\"",  # block structure chars handled separately
    ),
    max_size=60,
)

coord = st.one_of(
    st.integers(min_value=-200, max_value=1400),
    st.floats(min_value=-100, max_value=1200, allow_nan=False,
              allow_infinity=False),
    st.sampled_from([float("nan"), float("inf"), float("-inf")]),
)


def attr_value(draw, value):
    """`value`, or `value` with a '>' or a stray '"' drawn into it: the
    block regex must carve such attributes exactly as the oracle's does."""
    if draw(st.integers(0, 4)):
        return value
    at = draw(st.integers(0, len(value)))
    return value[:at] + draw(st.sampled_from(['>', '"'])) + value[at:]


@st.composite
def annotated_block(draw):
    label = draw(st.sampled_from(LABELS))
    score = draw(st.one_of(
        st.floats(min_value=-1, max_value=2, allow_nan=False,
                  allow_infinity=False),
        st.just("garbage"),
    ))
    n_coords = draw(st.integers(min_value=0, max_value=5))
    bbox = ",".join(str(draw(coord)) for _ in range(n_coords))
    order = draw(st.one_of(st.none(), st.integers(-5, 50), st.just("x")))
    content = draw(text_fragment)
    attrs = [("label", label), ("score", score), ("bbox", bbox)]
    if order is not None:
        attrs.append(("order", order))
    if draw(st.integers(0, 3)) == 0:
        attrs.append((draw(st.sampled_from(["id", "class", "label"])),
                      draw(text_fragment)))
    if draw(st.integers(0, 3)) == 0:
        attrs = draw(st.permutations(attrs))
    attr_s = " ".join(f'{k}="{attr_value(draw, str(v))}"' for k, v in attrs)
    space = draw(st.sampled_from([" ", "  ", "\t", "\n", " \n "]))
    close = "" if draw(st.integers(0, 9)) == 0 else "</block>"
    return f"<block{space}{attr_s}>{content}{close}"


@st.composite
def payload(draw):
    kind = draw(st.integers(0, 2))
    if kind == 0:  # annotated soup, maybe with <blockquote> among the blocks
        blocks = draw(st.lists(st.one_of(
            annotated_block(),
            text_fragment.map(lambda t: f"<blockquote>{t}</blockquote>"),
        ), max_size=8))
        page = draw(st.one_of(st.just(""), st.just('<page w="800" h="1200"/>')))
        return page + "\n".join(blocks)
    if kind == 1:  # plain-DOM soup
        tags = ["h1", "h2", "p", "table", "header", "footer", "nav", "pre"]
        parts = []
        for _ in range(draw(st.integers(0, 6))):
            t = draw(st.sampled_from(tags))
            parts.append(f"<{t}>{draw(text_fragment)}</{t}>")
            if draw(st.booleans()):
                parts.append(draw(text_fragment))
        return "\n\n".join(parts)
    # raw text incl. pathological repetition
    base = draw(text_fragment)
    reps = draw(st.integers(1, 300))
    return base * reps


@settings(max_examples=300, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(payload())
def test_fuzz_equality(p):
    k = extract_turn(p)
    o = oracle_extract_turn(p, "")
    for f in FIELDS:
        assert k[f] == o[f], (f, p[:200])


def test_zero_area_boxes_regression():
    # found by deep fuzzing: zero-area boxes under the +1 IoU convention
    # divided by zero in the scalar paths (vectorized path yields NaN ->
    # suppressed); both paths now agree
    p = ('<block label="abstract" score="garbage" bbox="0,0,0,-1"></block>\n'
         '<block label="abstract" score="garbage" bbox="0,0,0,-1"></block>')
    k = extract_turn(p)
    o = oracle_extract_turn(p, "")
    for f in FIELDS:
        assert k[f] == o[f]


def _page_with_bad_box(n_blocks, slot, value, ordered):
    """A page of `n_blocks` stacked text boxes whose middle box has `value`
    in bbox slot `slot` and the top score, so NMS (where its NaN IoU
    suppresses every other box) leaves it the only box reaching the
    clamp."""
    bad = n_blocks // 2
    blocks = []
    for i in range(n_blocks):
        coords = ["10", str(10 + 12 * i), "900", str(18 + 12 * i)]
        score = "0.9"
        if i == bad:
            coords[slot] = value
            score = "0.95"
        order = f' order="{i}"' if ordered else ""
        blocks.append(f'<block label="text" score="{score}" '
                      f'bbox="{",".join(coords)}"{order}>row {i}</block>')
    return '<page w="1000" h="1200"/>' + "\n".join(blocks)


@pytest.mark.parametrize("n_blocks", [1, 8, SMALL_N, SMALL_N + 1, 2 * SMALL_N])
@pytest.mark.parametrize("slot", range(4))
@pytest.mark.parametrize("ordered", [True, False])
def test_non_finite_bbox_rule(n_blocks, slot, ordered):
    """One rule for non-finite coordinates on both geometry paths (pages on
    each side of SMALL_N) and the oracle: a NaN in any bbox slot drops the
    box; an infinite coordinate clamps to the page edge."""
    for value in ("nan", "NaN", "inf", "-inf"):
        p = _page_with_bad_box(n_blocks, slot, value, ordered)
        k = extract_turn(p)
        o = oracle_extract_turn(p, "")
        for f in FIELDS:
            assert k[f] == o[f], (f, value)
        if value.lower() == "nan":
            assert k["n_blocks"] == 0


@settings(max_examples=100, deadline=None)
@given(st.text(max_size=200))
def test_fuzz_arbitrary_text_never_raises(p):
    k = extract_turn(p)
    o = oracle_extract_turn(p, "")
    for f in FIELDS:
        assert k[f] == o[f], (f, p[:200])
