"""Equivalence of the two production geometry paths: the fused pure-Python
survivors_small and the vectorized survivors_numpy, on randomized box sets
(including degenerate, inverted, overlapping, out-of-page geometry), under
the default config and the non-default knobs ExtractConfig exposes."""

import random

import pytest

from glm_ocr_spark.config import LABEL2ID
from glm_ocr_spark.kernel import geometry as geo
from glm_ocr_spark.kernel import geometry_py as gpy
from glm_ocr_spark.kernel.extract import DEFAULT_CONFIG, ExtractConfig

IMG = LABEL2ID["image"]

CONFIGS = {
    "nms_off": ExtractConfig(nms_enabled=False),
    "no_merge": ExtractConfig(merge_modes={}),
    "unclip_scalar": ExtractConfig(unclip_ratio=(1.3, 0.8)),
    "unclip_per_class": ExtractConfig(
        unclip_ratio={22: (2.0, 1.5), 20: (0.5, 3.0)}),
}


def random_rows(rng, n):
    rows = []
    for _ in range(n):
        cls = rng.choice([0, 5, 11, 14, 18, 20, 21, 22])
        score = rng.choice([0.31, 0.5, 0.55, 0.7, 0.7, 0.9, 0.95, 1.0])
        x1 = rng.uniform(-50, 1050)
        y1 = rng.uniform(-50, 1050)
        # mix of normal, degenerate, inverted boxes
        kind = rng.random()
        if kind < 0.8:
            x2, y2 = x1 + rng.uniform(0, 900), y1 + rng.uniform(0, 400)
        elif kind < 0.9:
            x2, y2 = x1, y1  # degenerate
        else:
            x2, y2 = x1 - rng.uniform(1, 200), y1 - rng.uniform(1, 100)
        order = float(rng.randint(1, n + 3))
        rows.append((float(cls), score, x1, y1, x2, y2, order))
    return rows


def assert_paths_agree(rows, config=DEFAULT_CONFIG, use_order=True,
                       page_w=1000.0, page_h=1000.0):
    """Both paths on the same input: identical survivors, spans included."""
    spans = [(i * 10, i * 10 + 5) for i in range(len(rows))]
    args = (config, IMG, page_w, page_h, use_order)
    small = gpy.survivors_small(list(rows), list(spans), *args)
    dense = geo.survivors_numpy(list(rows), list(spans), *args)
    assert small == dense
    return small


@pytest.mark.parametrize("seed", range(40))
@pytest.mark.parametrize("use_order", [True, False])
def test_paths_equivalent(seed, use_order):
    rng = random.Random(seed)
    rows = random_rows(rng, rng.randint(1, 30))
    assert_paths_agree(rows, use_order=use_order)


@pytest.mark.parametrize("seed", range(40))
@pytest.mark.parametrize("use_order", [True, False])
def test_fused(seed, use_order):
    """Non-default configs: each seed runs every ExtractConfig variant."""
    rng = random.Random(seed + 7000)
    rows = random_rows(rng, rng.randint(1, 30))
    for name, config in CONFIGS.items():
        try:
            assert_paths_agree(rows, config, use_order)
        except AssertionError:
            pytest.fail(f"paths disagree under {name} (seed {seed})")


def test_large_n_equivalent():
    # above SMALL_N, where extract_turn takes the numpy path
    n = 120
    assert n > gpy.SMALL_N
    for config in (DEFAULT_CONFIG, *CONFIGS.values()):
        rng = random.Random(123)
        assert_paths_agree(random_rows(rng, n), config)
        assert_paths_agree(random_rows(rng, n), config, use_order=False)


def test_infinite_coords_agree():
    inf = float("inf")
    pages = [
        [(22.0, 0.9, 0.0, 0.0, inf, 100.0, 1.0),
         (22.0, 0.8, 10.0, 10.0, 500.0, 90.0, 2.0)],
        # two unbounded boxes: their IoU is inf/inf = NaN
        [(22.0, 0.9, 0.0, 0.0, inf, 100.0, 1.0),
         (22.0, 0.8, 10.0, 10.0, inf, 90.0, 2.0),
         (5.0, 0.7, -inf, 200.0, 300.0, 260.0, 3.0)],
    ]
    for rows in pages:
        for config in (DEFAULT_CONFIG, *CONFIGS.values()):
            assert_paths_agree(rows, config)
            assert_paths_agree(rows, config, use_order=False)


def test_unclip_per_class_agree():
    """Per-class unclip (reference unclip_boxes dict form,
    layout_postprocess_utils.py:116-157): listed classes expand about their
    centers, others pass through, identically on both paths."""
    rows = [(22, 0.9, 10.0, 10.0, 30.0, 30.0, 1),
            (5, 0.8, 0.0, 40.0, 12.0, 48.0, 2),
            (20, 0.7, 4.0, 60.0, 6.0, 76.0, 3)]
    config = ExtractConfig(unclip_ratio={22: (2.0, 1.5), 20: (0.5, 3.0)},
                           merge_modes={})
    got = assert_paths_agree(rows, config)
    assert [r[2:6] for r in got] == [(0.0, 5.0, 40.0, 35.0),
                                     (0.0, 40.0, 12.0, 48.0),
                                     (4.0, 44.0, 5.0, 92.0)]
