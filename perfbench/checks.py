"""Output checks for one pipeline run against the generator's truth.

Pair-counting recall and precision come from the (truth group x predicted group)
contingency table, so a group of n copies costs one table cell, never n(n-1)/2
materialized pairs.
"""

from __future__ import annotations

import pandas as pd

MIN_RECALL = 0.99


def _pairs(sizes: pd.Series) -> int:
    n = sizes.astype("int64")
    return int((n * (n - 1) // 2).sum())


def pair_recall_precision(
    truth: pd.Series, pred: pd.Series
) -> tuple[float, float]:
    """Pair-counting recall and precision of ``pred`` labels against ``truth``
    labels (both indexed by item): sum C(n_ij, 2) over sum C(a_i, 2) and over
    sum C(b_j, 2). An empty denominator scores 1.0."""
    frame = pd.DataFrame({"t": truth, "p": pred})
    both = _pairs(frame.groupby(["t", "p"]).size())
    truth_pairs = _pairs(frame.groupby("t").size())
    pred_pairs = _pairs(frame.groupby("p").size())
    recall = both / truth_pairs if truth_pairs else 1.0
    precision = both / pred_pairs if pred_pairs else 1.0
    return recall, precision


def check_run(
    assignments: pd.DataFrame, truth: pd.DataFrame, fit_metrics: list[dict]
) -> tuple[dict, list[str]]:
    """Check a run's ``(image_id, dup_group)`` assignments and EM metrics.

    Returns ``({"recall", "precision", "rmse"}, failures)``; an empty failure list
    means the run is correct."""
    failures = []
    n = len(truth)
    if len(assignments) != n or assignments["image_id"].nunique() != n:
        failures.append(f"assignments: {len(assignments)} rows for {n} images")
    merged = truth.merge(assignments, on="image_id", how="left", suffixes=("", "_pred"))
    if merged["dup_group_pred"].isna().any():
        failures.append("assignments: images without a row")
        merged = merged.dropna(subset=["dup_group_pred"])
    recall, precision = pair_recall_precision(
        merged["dup_group"], merged["dup_group_pred"]
    )
    if recall < MIN_RECALL:
        failures.append(f"dup_recall {recall:.4f} < {MIN_RECALL}")
    if not fit_metrics:
        failures.append("EM fit recorded no iterations")
    for m in fit_metrics:
        if m["objects"] != n:
            failures.append(f"EM iteration {m['iteration']}: {m['objects']} objects, {n} rows")
    rmse = fit_metrics[-1]["rmse"] if fit_metrics else float("nan")
    return {"recall": recall, "precision": precision, "rmse": rmse}, failures
