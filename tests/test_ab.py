"""The A/B harness's acceptance rule and parity comparator (tools/ab.py),
on synthetic samples: no Spark, no git."""

import pyarrow as pa
import pytest

from tools.ab import drifted, first_difference, judge, run_problem

BASE = [100.0 + i for i in range(10)]   # IQR 4.5 around a median of 104.5


def test_ten_of_ten_wins_beyond_the_iqr_is_a_gain():
    c = judge(BASE, [b * 1.5 for b in BASE], "higher", 0.25)
    assert c["wins"] == 10 and c["verdict"] == "gain"
    assert c["ratios"] == pytest.approx([1.5] * 10)
    assert c["base_median"] == 104.5 and c["base_iqr"] == 4.5


def test_eight_of_ten_wins_is_not_a_gain():
    head = [b + 20 for b in BASE[:8]] + [b - 1 for b in BASE[8:]]
    c = judge(BASE, head, "higher", 0.25)
    assert (c["wins"], c["losses"]) == (8, 2)
    assert c["verdict"] == "no regression"


def test_ties_count_for_neither_side():
    tied2 = [b + 20 for b in BASE[:8]] + BASE[8:]
    c = judge(BASE, tied2, "higher", 0.25)
    assert (c["wins"], c["losses"]) == (8, 0)
    assert c["verdict"] == "no regression"
    tied1 = [b + 20 for b in BASE[:9]] + BASE[9:]
    assert judge(BASE, tied1, "higher", 0.25)["verdict"] == "gain"


def test_gap_within_the_base_iqr_is_not_a_gain():
    c = judge(BASE, [b + 4 for b in BASE], "higher", 0.25)
    assert c["wins"] == 10 and c["verdict"] == "no regression"


def test_fewer_than_ten_pairs_is_never_a_gain():
    c = judge(BASE[:9], [b * 2 for b in BASE[:9]], "higher", 0.25)
    assert c["wins"] == 9 and c["verdict"] == "no regression"


def test_lower_is_better():
    cpu = [0.75 + 0.01 * i for i in range(10)]
    faster = [0.44 + 0.01 * i for i in range(10)]
    assert judge(cpu, faster, "lower", 0.25)["verdict"] == "gain"
    c = judge(faster, cpu, "lower", 0.25)
    assert c["wins"] == 0 and c["verdict"] == "regression"


@pytest.mark.parametrize("factor, verdict", [
    (0.7, "regression"),      # 30% fewer rows/s, bound 25%
    (0.8, "no regression"),   # 20% fewer, within the bound
])
def test_median_worse_than_its_bound_is_a_regression(factor, verdict):
    c = judge(BASE, [b * factor for b in BASE], "higher", 0.25)
    assert c["worse_frac"] == pytest.approx(1 - factor)
    assert c["verdict"] == verdict


def test_spread_wider_than_the_bound_is_unresolved():
    wide = [50.0, 150.0] * 5
    c = judge(wide, [w * 1.05 for w in reversed(wide)], "higher", 0.25)
    assert c["spread"] > 0.25 and c["verdict"] == "unresolved"


def test_wide_spread_resolves_when_every_head_run_beats_every_base_run():
    base = [100.0, 101.0, 102.0, 103.0, 104.0]
    head = [110.0, 150.0, 200.0, 250.0, 300.0]
    c = judge(base, head, "higher", 0.25)
    assert c["spread"] > 0.25
    assert c["verdict"] == "no regression"   # five pairs: not a gain
    overlap = [90.0] + head[1:]
    assert judge(base, overlap, "higher", 0.25)["verdict"] == "unresolved"


def test_capacity_drift_flag_above_twenty_percent():
    assert not drifted(1.0, 1.19)
    assert drifted(1.0, 1.21)
    assert drifted(3.4, 2.5)


def test_a_crash_a_wrong_answer_or_a_failure_invalidates_the_run():
    ok = {"result": {"correct": True, "failed": 0}}
    assert run_problem(ok) is None
    assert run_problem({"error": "crashed"}) == "crashed"
    assert run_problem({"result": {"correct": False, "failed": 0}})
    assert run_problem({"result": {"correct": True, "failed": 3}})


def _table(json_col):
    return pa.table({
        "conv_id": ["a", "a", "b", "b"],
        "turn_idx": pa.array([0, 1, 0, 1], pa.int32()),
        "extracted_text": ["x", "y", "z", "w"],
        "json": json_col,
    })


def test_parity_names_the_first_differing_row_and_column():
    base = _table(['[["p"]]', '[["q"]]', '[["r"]]', '[["s"]]'])
    assert first_difference(base, base) is None
    one_byte = _table(['[["p"]]', '[["q"]]', '[["R"]]', '[["s"]]'])
    assert first_difference(base, one_byte) == ("b", 0, "json")
    # an earlier row wins over an earlier column
    later = one_byte.set_column(2, "extracted_text",
                                pa.array(["x", "y", "z", "W"]))
    assert first_difference(base, later) == ("b", 0, "json")
    assert first_difference(base, base.slice(0, 3)) == ("b", 1, "rows")
    assert first_difference(base, base.drop_columns(["json"]))[2] == "schema"
