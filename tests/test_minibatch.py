"""Mini-batch streaming EM mode (reference
/root/reference/src/StreamingEMTreeExperiments.h:143-189): centroids update after
every hash-slice, accumulators are cumulative within a pass."""

import numpy as np
import pandas as pd

from lmw_tree_spark.config import SMALL
from lmw_tree_spark.functions.bitops import pack_bits, unpack_bits
from lmw_tree_spark.operators.emtree import em_tree_fit


def _planted_df(spark, n_clusters=5, per=60, words=4, flip=0.04, seed=21):
    rng = np.random.default_rng(seed)
    seeds = rng.integers(0, 2**63, (n_clusters, words), dtype=np.uint64)
    sigs = []
    for c in range(n_clusters):
        base = unpack_bits(seeds[c][None])[0]
        for _ in range(per):
            flips = (rng.random(words * 64) < flip).astype(np.uint8)
            sigs.append(pack_bits((base ^ flips)[None])[0])
    pdf = pd.DataFrame(
        {
            "image_id": [f"img{i:06d}" for i in range(len(sigs))],
            "sig": [s.view(np.int64).tolist() for s in sigs],
        }
    )
    return spark.createDataFrame(pdf, "image_id string, sig array<long>")


def test_minibatch_conserves_objects_and_descends_rmse(spark):
    df = _planted_df(spark).persist()
    fit = em_tree_fit(df, SMALL, n_batches=3)
    n = df.count()
    assert all(m["objects"] == n for m in fit.metrics)
    # per-pass RMSE mixes mid-pass centroid versions (accumulators are cumulative
    # while centroids move — same as the reference's mini-batch reporting), so it
    # is not strictly monotone; assert bounded drift instead of descent here and
    # quality-vs-full-batch in the next test
    rmses = [m["rmse"] for m in fit.metrics]
    assert rmses[-1] <= rmses[0] * 1.10
    assert fit.tree.n_leaves >= 1


def test_minibatch_comparable_quality_to_full_batch(spark):
    df = _planted_df(spark).persist()
    full = em_tree_fit(df, SMALL)
    mini = em_tree_fit(df, SMALL, n_batches=3)
    # mini-batch converges to comparable RMSE (within 15%) in the same passes
    assert mini.metrics[-1]["rmse"] <= full.metrics[-1]["rmse"] * 1.15
