"""Contingency-table pair counting against brute-force pair sets."""

import itertools

import pandas as pd
import pytest

from perfbench.checks import check_run, pair_recall_precision


def _pair_set(labels: dict[str, int]) -> set[tuple[str, str]]:
    groups: dict[int, list[str]] = {}
    for item, g in labels.items():
        groups.setdefault(g, []).append(item)
    return {
        p for members in groups.values() for p in itertools.combinations(sorted(members), 2)
    }


def test_matches_brute_force_pairs():
    # truth: {a,b,c} {d,e} {f} {g,h,i,j}; prediction merges two truth groups,
    # splits one and leaves a singleton alone
    truth = dict(a=1, b=1, c=1, d=2, e=2, f=3, g=4, h=4, i=4, j=4)
    pred = dict(a=10, b=10, c=11, d=10, e=12, f=13, g=14, h=14, i=14, j=15)
    t, p = _pair_set(truth), _pair_set(pred)
    recall, precision = pair_recall_precision(pd.Series(truth), pd.Series(pred))
    assert recall == pytest.approx(len(t & p) / len(t))
    assert precision == pytest.approx(len(t & p) / len(p))
    assert (recall, precision) != (1.0, 1.0)


def test_empty_denominators_score_one():
    singles = pd.Series({"a": 1, "b": 2})
    assert pair_recall_precision(singles, singles) == (1.0, 1.0)


def test_check_run_flags_missing_rows_and_objects():
    truth = pd.DataFrame({"image_id": ["a", "b", "c"], "dup_group": [1, 1, 2]})
    out = pd.DataFrame({"image_id": ["a", "b"], "dup_group": ["a", "a"]})
    metrics = [{"iteration": 0, "rmse": 1.5, "objects": 2}]
    quality, failures = check_run(out, truth, metrics)
    assert quality["rmse"] == 1.5
    assert any("2 rows for 3 images" in f for f in failures)
    assert any("objects" in f for f in failures)


def test_check_run_passes_a_perfect_run():
    truth = pd.DataFrame({"image_id": ["a", "b", "c"], "dup_group": [1, 1, 2]})
    out = pd.DataFrame({"image_id": ["c", "a", "b"], "dup_group": ["c", "a", "a"]})
    quality, failures = check_run(out, truth, [{"iteration": 0, "rmse": 2.0, "objects": 3}])
    assert failures == []
    assert (quality["recall"], quality["precision"]) == (1.0, 1.0)
