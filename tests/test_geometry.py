"""Unit tests for geometric post-processing (F3/F4/F5/F8, O1, T10/T11).

Expected values mirror the reference's conventions
(layout_postprocess_utils.py): +1-pixel IoU, 0.8 containment, dual-threshold
greedy NMS, landscape/portrait oversize thresholds.
"""

import numpy as np

from glm_ocr_spark.config import LABEL2ID, PRESERVE_CLASS_IDS
from glm_ocr_spark.kernel import geometry as geo
from glm_ocr_spark.kernel.geometry_py import xy_cut_order


def boxes(rows):
    return np.array(rows, dtype=np.float64)


class TestIoU:
    def test_identical_is_one(self):
        m = geo.pairwise_iou(np.array([[0, 0, 10, 10], [0, 0, 10, 10.0]]))
        assert np.allclose(m, 1.0)

    def test_disjoint_is_zero(self):
        m = geo.pairwise_iou(np.array([[0, 0, 10, 10], [100, 100, 110, 110.0]]))
        assert m[0, 1] == 0.0

    def test_plus_one_convention(self):
        # touching boxes share a 1-px-wide "intersection" under the reference's
        # +1 convention (layout_postprocess_utils.py:19)
        m = geo.pairwise_iou(np.array([[0, 0, 10, 10], [10, 0, 20, 10.0]]))
        assert m[0, 1] > 0.0


class TestNMS:
    def test_same_class_suppression(self):
        b = boxes([
            [22, 0.9, 0, 0, 100, 100, 1],
            [22, 0.5, 2, 2, 102, 102, 2],  # IoU ~0.92 > 0.6: suppressed
        ])
        assert list(geo.nms(b)) == [0]

    def test_cross_class_survives_below_098(self):
        b = boxes([
            [22, 0.9, 0, 0, 100, 100, 1],
            [21, 0.5, 2, 2, 102, 102, 2],  # cross-class thr 0.98: kept
        ])
        assert sorted(geo.nms(b)) == [0, 1]

    def test_pick_order_by_score(self):
        b = boxes([
            [22, 0.5, 0, 0, 10, 10, 1],
            [22, 0.9, 500, 500, 510, 510, 2],
        ])
        assert list(geo.nms(b)) == [1, 0]

    def test_tie_breaks_later_index_first(self):
        # np.argsort(scores)[::-1] picks the later index on equal scores
        b = boxes([
            [22, 0.7, 0, 0, 100, 100, 1],
            [22, 0.7, 1, 1, 101, 101, 2],
        ])
        assert list(geo.nms(b)) == [1]


class TestContainment:
    def test_nested_dropped_large_mode(self):
        b = boxes([
            [22, 0.9, 0, 0, 100, 100, 1],
            [22, 0.8, 10, 10, 50, 50, 2],  # fully inside -> dropped
        ])
        keep = geo.apply_merge_modes(b, {22: "large"}, PRESERVE_CLASS_IDS)
        assert list(keep) == [0]

    def test_preserved_class_survives(self):
        img = LABEL2ID["image"]
        b = boxes([
            [22, 0.9, 0, 0, 100, 100, 1],
            [img, 0.8, 10, 10, 50, 50, 2],
        ])
        keep = geo.apply_merge_modes(b, {22: "large"}, PRESERVE_CLASS_IDS)
        assert sorted(keep) == [0, 1]

    def test_partial_overlap_below_08_kept(self):
        b = boxes([
            [22, 0.9, 0, 0, 100, 100, 1],
            [22, 0.8, 50, 0, 150, 100, 2],  # 50% inside: kept
        ])
        keep = geo.apply_merge_modes(b, {22: "large"}, PRESERVE_CLASS_IDS)
        assert sorted(keep) == [0, 1]

    def test_small_mode_keeps_inner(self):
        # category 'small': the *outer* box (containing a category box) drops
        b = boxes([
            [18, 0.8, 10, 10, 50, 50, 1],   # reference (small mode), inner
            [22, 0.9, 0, 0, 100, 100, 2],   # contains it -> dropped
        ])
        keep = geo.apply_merge_modes(b, {18: "small"}, PRESERVE_CLASS_IDS)
        assert list(keep) == [0]


class TestOversize:
    def test_near_fullpage_image_dropped(self):
        img = LABEL2ID["image"]
        b = boxes([
            [img, 0.9, 5, 5, 995, 990, 1],
            [22, 0.9, 0, 0, 100, 100, 2],
        ])
        keep = geo.filter_oversized_images(b, img, 1000, 1000)
        assert list(keep) == [1]

    def test_small_image_kept(self):
        img = LABEL2ID["image"]
        b = boxes([
            [img, 0.9, 0, 0, 300, 300, 1],
            [22, 0.9, 0, 500, 100, 600, 2],
        ])
        keep = geo.filter_oversized_images(b, img, 1000, 1000)
        assert sorted(keep) == [0, 1]

    def test_single_box_exempt(self):
        img = LABEL2ID["image"]
        b = boxes([[img, 0.9, 0, 0, 1000, 1000, 1]])
        assert list(geo.filter_oversized_images(b, img, 1000, 1000)) == [0]

    def test_landscape_threshold(self):
        # page 2000x1000 landscape: thr 0.82; image at 85% of area dropped
        img = LABEL2ID["image"]
        b = boxes([
            [img, 0.9, 0, 0, 1900, 900, 1],   # area 1.71e6 / 2e6 = 0.855
            [22, 0.9, 0, 950, 100, 990, 2],
        ])
        keep = geo.filter_oversized_images(b, img, 2000, 1000)
        assert list(keep) == [1]


class TestClamp:
    def test_out_of_page_clamped(self):
        b = boxes([[22, 0.9, -10, -5, 1100, 500, 1]])
        out, keep = geo.clamp_and_validate(b, 1000, 1000)
        assert list(keep) == [0]
        assert out[0, geo.X1:geo.Y2 + 1].tolist() == [0, 0, 1000, 500]

    def test_degenerate_dropped(self):
        b = boxes([
            [22, 0.9, 400, 0, 400, 100, 1],
            [22, 0.9, 0, 300, 100, 300, 2],
            [22, 0.9, 0, 0, 10, 10, 3],
        ])
        _, keep = geo.clamp_and_validate(b, 1000, 1000)
        assert list(keep) == [2]


def _rows(coords):
    """(x1, y1, x2, y2) boxes as geometry rows (cls, score, *coords, order)."""
    return [(22, 0.9, *c, 0) for c in coords]


class TestXYCut:
    def test_two_columns(self):
        # staggered columns (no page-wide horizontal gap): split on x first,
        # left column read top-to-bottom, then right column
        rows = _rows([
            (600, 50, 900, 150),    # right top
            (0, 0, 400, 100),       # left top
            (0, 120, 400, 300),     # left bottom
            (600, 170, 900, 280),   # right bottom
        ])
        assert xy_cut_order(rows) == [1, 2, 0, 3]

    def test_row_major_when_row_gaps(self):
        # page-wide horizontal gaps: rows split first -> row-major order
        rows = _rows([
            (600, 0, 900, 100),    # top right
            (0, 0, 400, 100),      # top left
            (0, 200, 400, 300),    # bottom left
            (600, 200, 900, 300),  # bottom right
        ])
        assert xy_cut_order(rows) == [1, 0, 2, 3]

    def test_rows_first(self):
        rows = _rows([
            (0, 500, 900, 600),  # bottom row
            (0, 0, 900, 100),    # top row
        ])
        assert xy_cut_order(rows) == [1, 0]

    def test_no_gaps_falls_back_to_lexsort(self):
        rows = _rows([
            (10, 10, 500, 500),
            (5, 5, 495, 495),
        ])
        assert xy_cut_order(rows) == [1, 0]


class TestUnclip:
    def test_identity_default(self):
        b = boxes([[22, 0.9, 10, 10, 20, 20, 1]])
        assert geo.unclip(b, (1.0, 1.0)) is b

    def test_expand_about_center(self):
        b = boxes([[22, 0.9, 10, 10, 30, 30, 1]])
        out = geo.unclip(b, (2.0, 1.0))
        assert out[0, geo.X1:geo.Y2 + 1].tolist() == [0, 10, 40, 30]

    def test_none_is_noop(self):
        b = boxes([[22, 0.9, 10, 10, 20, 20, 1]])
        assert geo.unclip(b, None) is b

    def test_per_class_dict(self):
        """Reference unclip_boxes dict form
        (layout_postprocess_utils.py:116-157): listed classes expand,
        others pass through untouched."""
        b = boxes([
            [22, 0.9, 10, 10, 30, 30, 1],   # cls 22: expanded
            [5, 0.8, 10, 10, 30, 30, 2],    # cls 5: untouched
        ])
        out = geo.unclip(b, {22: (2.0, 1.5)})
        assert out[0, geo.X1:geo.Y2 + 1].tolist() == [0, 5, 40, 35]
        assert out[1, geo.X1:geo.Y2 + 1].tolist() == [10, 10, 30, 30]
