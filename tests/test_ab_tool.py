"""``tools/ab.py``'s round order, result-identity check and verdict
rule, without Spark or git."""

from __future__ import annotations

import importlib.util
import os

import pandas as pd
import pytest

_PATH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                     "tools", "ab.py")
_spec = importlib.util.spec_from_file_location("ab_tool", _PATH)
ab = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(ab)


def test_round_order_puts_each_side_first_equally_often():
    order = ab.round_order(ab.ROUNDS)
    assert len(order) == ab.ROUNDS >= 10
    assert all(sorted(o) == ["a", "b"] for o in order)
    firsts = [o[0] for o in order]
    assert firsts.count("a") == firsts.count("b")


def test_identity_ignores_row_order_and_column_order():
    a = pd.DataFrame({"k": [1, 2, 3], "v": ["x", "y", "z"]})
    b = pd.DataFrame({"v": ["z", "x", "y"], "k": [3, 1, 2]})
    assert ab.frame_difference(a, b) is None


def test_identity_detects_duplicate_row_multiplicity():
    a = pd.DataFrame({"k": [1, 1, 2]})
    b = pd.DataFrame({"k": [1, 2, 2]})
    diff = ab.frame_difference(a, b)
    assert diff is not None and "sorted row 1" in diff


def test_identity_detects_last_digit_float_difference():
    a = pd.DataFrame({"x": [0.1 + 0.2]})
    b = pd.DataFrame({"x": [0.3]})
    diff = ab.frame_difference(a, b)
    assert diff is not None and "0.30000000000000004" in diff


@pytest.mark.parametrize("a,b,expected", [
    # 8/10 wins with a wide gap: not enough rounds won.
    ([2.0] * 10, [1.0] * 8 + [3.0] * 2, "unresolved"),
    # 10/10 wins, but the median gap (0.1) is inside A's IQR (1.0).
    ([1.0, 1.5, 2.0, 1.0, 1.5, 2.0, 1.0, 1.5, 2.0, 1.5],
     [0.9, 1.4, 1.9, 0.9, 1.4, 1.9, 0.9, 1.4, 1.9, 1.4], "unresolved"),
    # 9/10 wins, a tie counting for neither side, gap beyond the IQR.
    ([2.0, 2.1, 2.0, 2.2, 2.0, 2.1, 2.0, 2.1, 2.0, 1.0],
     [1.0, 1.1, 1.0, 1.2, 1.0, 1.1, 1.0, 1.1, 1.0, 1.0], "faster"),
    # The mirror image: A wins 10/10 beyond the IQR.
    ([1.0] * 10, [2.0] * 10, "slower"),
])
def test_verdict_rule(a, b, expected):
    assert ab.verdict(a, b) == expected
