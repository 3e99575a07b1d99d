"""PQ (product quantization) ANN tests — NumPy reference oracle for encode and
ADC scoring, determinism across partitionings, and a recall sanity check
against exact L2 neighbors."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from lmw_tree_spark.operators.pq import (
    _subspace_views,
    pq_adc_topk,
    pq_encode,
    train_pq,
)


def _emb_df(spark, n=300, d=32, parts=4, seed=5):
    import pandas as pd

    rng = np.random.default_rng(seed)
    x = rng.standard_normal((n, d))
    # planted near-dups: every 10th row is a lightly perturbed copy of row i-1
    for i in range(1, n, 10):
        x[i] = x[i - 1] + 0.03 * rng.standard_normal(d)
    pdf = pd.DataFrame({"vec_id": np.arange(n), "embedding": list(x)})
    return spark.createDataFrame(pdf).repartition(parts), x


def _np_encode(x, cb):
    m = cb.shape[0]
    subs = _subspace_views(np.asarray(x, dtype=np.float64), m)
    return np.stack(
        [((subs[mm][:, None, :] - cb[mm][None, :, :]) ** 2).sum(2).argmin(1) for mm in range(m)],
        axis=1,
    )


def test_encode_matches_numpy_reference(spark):
    df, x = _emb_df(spark)
    cb = train_pq(df, m=8, ksub=16, seed=1)
    got = {r["vec_id"]: list(r["codes"]) for r in pq_encode(df, cb).collect()}
    want = _np_encode(x, cb)
    for i in range(len(x)):
        assert got[i] == list(want[i])


def test_codebook_deterministic_across_partitionings(spark):
    df4, _ = _emb_df(spark, parts=4)
    df1, _ = _emb_df(spark, parts=1)
    cb4 = train_pq(df4, m=8, ksub=16, seed=1)
    cb1 = train_pq(df1, m=8, ksub=16, seed=1)
    assert np.array_equal(cb4, cb1)


def test_adc_matches_numpy_and_finds_planted_dups(spark):
    df, x = _emb_df(spark)
    cb = train_pq(df, m=8, ksub=16, seed=1)
    out = pq_adc_topk(df, cb, k=3, query_pred="vec_id % 10 = 1").collect()
    # NumPy ADC reference
    codes = _np_encode(x, cb)
    m, ksub, dsub = cb.shape
    top1 = {}
    for q in range(1, len(x), 10):
        qsubs = x[q].reshape(m, dsub)
        lut = ((qsubs[:, None, :] - cb) ** 2).sum(2)  # (m, ksub)
        adc = lut[np.arange(m)[None, :], codes].sum(1).round(6)
        adc[q] = np.inf
        best = np.lexsort((np.arange(len(x)), adc))[0]
        top1[q] = best
    got_top1 = {r["query_id"]: r["neighbor_id"] for r in out if r["rank"] == 1}
    assert got_top1 == top1
    # planted dup i-1 should be the ADC nearest neighbor for nearly all queries
    hits = sum(1 for q, nb in got_top1.items() if nb == q - 1)
    assert hits >= 0.9 * len(got_top1)


def test_subspace_view_rejects_indivisible_dim():
    with pytest.raises(ValueError):
        _subspace_views(np.zeros((4, 30)), 8)


def test_ivfadc_matches_restricted_numpy_reference(spark):
    from lmw_tree_spark.operators.pq import ivfadc_topk

    df, x = _emb_df(spark)
    cb = train_pq(df, m=8, ksub=16, seed=1)
    rng = np.random.default_rng(2)
    coarse = x[rng.permutation(len(x))[:6]].copy()
    out = ivfadc_topk(df, coarse, cb, k=3, n_probe=2, query_pred="vec_id % 25 = 0")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    rows = out.collect()

    codes = _np_encode(x, cb)
    m, ksub, dsub = cb.shape
    cell_of = ((x[:, None, :] - coarse[None, :, :]) ** 2).sum(2).argmin(1)
    for q in range(0, len(x), 25):
        qd = ((x[q][None, :] - coarse) ** 2).sum(1)
        probe = np.argsort(qd, kind="stable")[:2]
        cand = [i for i in range(len(x)) if cell_of[i] in probe and i != q]
        lut = ((x[q].reshape(m, dsub)[:, None, :] - cb) ** 2).sum(2)
        adc = {i: round(float(lut[np.arange(m), codes[i]].sum()), 6) for i in cand}
        want = sorted(cand, key=lambda i: (adc[i], i))[:3]
        got = [r["neighbor_id"] for r in sorted(
            (r for r in rows if r["query_id"] == q), key=lambda r: r["rank"])]
        assert got == want, (q, got, want)
        for r in rows:
            if r["query_id"] == q:
                assert abs(r["adc_dist"] - adc[r["neighbor_id"]]) < 1e-9


def test_sq8_encode_codes_and_bounds(spark):
    """SQ8 codes are in [-127, 127], scale is max(1, max|floor(x*2^20)|), and
    the code algebra matches a NumPy replay exactly."""
    import numpy as np

    from lmw_tree_spark.operators.pq import SQ8_FP_BITS, sq8_encode

    rng = np.random.default_rng(7)
    vecs = [(i, [float(x) for x in rng.standard_normal(8)]) for i in range(40)]
    vecs.append((40, [0.0] * 8))  # zero vector: scale clamps to 1
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    out = {r["vec_id"]: r for r in sq8_encode(df).collect()}

    for i, v in vecs:
        f = np.floor(np.array(v) * (1 << SQ8_FP_BITS)).astype(np.int64)
        scale = max(1, int(np.abs(f).max()))
        q = (f + scale) * 127 // (2 * scale)
        qc = 2 * q - 127
        r = out[i]
        assert r["scale"] == scale
        assert list(r["qcode"]) == qc.tolist()
        assert all(-127 <= c <= 127 for c in r["qcode"])


def test_sq8_topk_matches_numpy_and_recall_reasonable(spark):
    """sq8_topk and fixedpoint_topk both match NumPy replays (score + ties),
    and SQ8 recall@3 vs the exact fixed-point ranking is high on smooth
    synthetic data."""
    import numpy as np

    from lmw_tree_spark.operators.pq import (
        SQ8_FP_BITS,
        fixedpoint_topk,
        sq8_topk,
    )

    rng = np.random.default_rng(11)
    x = rng.standard_normal((60, 8))
    x /= np.linalg.norm(x, axis=1, keepdims=True)  # dot == cosine
    # plant a near-dup next to every query so top-1 has a real margin —
    # int8 must preserve a 2% perturbation neighbor, not arbitrary noise ranks
    for qi in range(0, 60, 10):
        v = x[qi] + 0.02 * rng.standard_normal(8)
        x[qi + 1] = v / np.linalg.norm(v)
    df = spark.createDataFrame(
        [(i, [float(v) for v in x[i]]) for i in range(len(x))],
        "vec_id long, embedding array<double>",
    )
    pred = __import__("pyspark.sql.functions", fromlist=["col"]).col("vec_id") % 10 == 0

    f = np.floor(x * (1 << SQ8_FP_BITS)).astype(np.int64)
    scale = np.maximum(1, np.abs(f).max(axis=1, keepdims=True))
    qc = 2 * ((f + scale) * 127 // (2 * scale)) - 127

    def np_topk(mat, qidx, k=3):
        got = {}
        for qi in qidx:
            s = mat @ mat[qi]
            order = sorted(
                (int(j) for j in range(len(mat)) if j != qi),
                key=lambda j: (-int(s[j]), j),
            )
            got[qi] = [(j, int(s[j])) for j in order[:k]]
        return got

    qidx = [i for i in range(len(x)) if i % 10 == 0]
    want_exact = np_topk(f, qidx)
    want_sq8 = np_topk(qc, qidx)

    got_exact = {}
    for r in fixedpoint_topk(df, k=3, query_pred=pred).collect():
        got_exact.setdefault(r["query_id"], []).append(
            (r["neighbor_id"], r["score"])
        )
    got_sq8 = {}
    for r in sq8_topk(df, k=3, query_pred=pred).collect():
        got_sq8.setdefault(r["query_id"], []).append((r["neighbor_id"], r["score"]))

    assert {q: v for q, v in want_exact.items()} == got_exact
    assert {q: v for q, v in want_sq8.items()} == got_sq8

    # int8 must keep every planted near-dup at rank 1, same as full precision
    for q in qidx:
        assert want_exact[q][0][0] == q + 1
        assert want_sq8[q][0][0] == q + 1
    hits = sum(
        len({j for j, _ in want_exact[q]} & {j for j, _ in want_sq8[q]})
        for q in qidx
    )
    assert hits / (3 * len(qidx)) >= 0.5  # tail ranks of random data drift


def test_ivfadc_corpus_sized_queries_no_driver_materialization(spark):
    """query_pred=None (everything-vs-everything, the dedup shape) over 120k
    rows: the whole pipeline — cell assign, encode, probe expansion, cogrouped
    ADC scoring — must run with ZERO driver-side collection of the corpus and
    no cartesian product in the plan. Input is generated JVM-side
    (spark.range + expression vectors), so nothing corpus-sized ever touches
    the driver in this test either."""
    import numpy as np

    from lmw_tree_spark.operators.pq import ivfadc_topk

    n, d = 120_000, 16
    df = spark.range(n).selectExpr(
        "id AS vec_id",
        f"transform(sequence(1, {d}), i -> sin(id * i * 0.7) + cos(id + i)) AS embedding",
    )
    rng = np.random.default_rng(11)
    coarse = rng.normal(size=(256, d))          # bounded model state, not corpus
    cb = rng.normal(size=(8, 16, d // 8))
    out = ivfadc_topk(df, coarse, cb, k=2, n_probe=1, query_pred=None)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan  # no row-at-a-time Python anywhere
    agg = out.groupBy().agg(
        F.countDistinct("query_id").alias("nq"),
        F.max("rank").alias("maxr"),
        F.min("adc_dist").alias("mind"),
    ).collect()[0]
    # every row is a query; with n_probe=1 each query scores its own cell, so
    # every query with >=1 same-cell neighbor gets results
    assert agg["nq"] > n * 0.95
    assert agg["maxr"] == 2
    assert agg["mind"] >= 0.0


def _det_df(spark, n, d):
    """Bit-exact deterministic vectors derivable on BOTH sides: an integer
    product mod 101 (exact in int64 and in float64's 53-bit mantissa) then one
    IEEE-correctly-rounded double division — Spark and NumPy doubles agree
    bitwise, so exact-equality oracles across the engine boundary are safe
    (sin/cos would differ by libm ulps)."""
    df = spark.range(n).selectExpr(
        "id AS vec_id",
        f"transform(sequence(1, {d}), j -> ((id * (j + 3)) % 101) / 7.0D) AS embedding",
    )
    ids = np.arange(n, dtype=np.int64)
    j = np.arange(1, d + 1, dtype=np.int64)
    x = ((ids[:, None] * (j + 3)[None, :]) % 101) / 7.0
    return df, x


def _np_topk_pairs(scores_row, nids, k, self_id):
    """Exact (value asc, nid asc) top-k excluding the self match."""
    order = sorted(
        (v, int(nid)) for v, nid in zip(scores_row, nids) if nid != self_id
    )
    return order[:k]


def test_pq_adc_corpus_sized_queries_bounded_grid(spark):
    """ADVICE r4 (pq.py): query_pred=None replicated the ENTIRE query set to
    every code chunk — O(Q · chunk_rows · m) per task, an executor OOM at any
    realistic corpus-sized Q. The 2-D (chunk × qchunk) grid bounds per-task
    memory to O(q_chunk_rows · chunk_rows) on both sides; this actually RUNS
    the corpus-sized path at 100k rows (100k queries × 100k codes) with a
    forced multi-cell grid and checks sampled queries exactly vs NumPy."""
    n, d, m, ksub = 100_000, 8, 2, 16
    df, x = _det_df(spark, n, d)
    rng = np.random.default_rng(3)
    cb = rng.normal(size=(m, ksub, d // m))
    out = pq_adc_topk(
        df, cb, k=2, query_pred=None, chunk_rows=32768, q_chunk_rows=16384
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    pdf = out.toPandas()
    # every query gets its full top-2 (self-match excluded by _rank_topk)
    assert len(pdf) == 2 * n
    assert pdf["rank"].max() == 2
    # exact NumPy replay for sampled queries: codes, LUT walk, round, tie rule
    codes = _np_encode(x, cb)
    nids = np.arange(n)
    for qid in (0, 1, 101, 7_777, 99_999):
        lut = ((x[qid].reshape(m, d // m)[:, None, :] - cb) ** 2).sum(2)  # (m, ksub)
        adc = np.zeros(n)
        for j in range(m):
            adc += lut[j, codes[:, j]]
        adc = np.round(adc, 6)
        want = _np_topk_pairs(adc, nids, 2, qid)
        got = pdf[pdf.query_id == qid].sort_values("rank")
        assert [(v, i) for v, i in zip(got.adc_dist, got.neighbor_id)] == want


def test_pq_adc_query_chunks_sized_from_queries_not_codes(spark):
    """query_pred=None scans every row of df as a query; with a pre-filtered
    ``codes`` table the query-chunk grid must still be sized from df
    (100 queries / 10 per chunk = 10 query-chunks), not from the 10 codes."""
    n, d, m, ksub = 100, 8, 2, 16
    df, _x = _det_df(spark, n, d)
    cb = np.random.default_rng(3).normal(size=(m, ksub, d // m))
    codes = pq_encode(df, cb).where("vec_id < 10")
    out = pq_adc_topk(df, cb, k=2, codes=codes, q_chunk_rows=10)
    plan = out._jdf.queryExecution().analyzed().toString()
    assert "sequence(0, 9" in plan and "sequence(0, 0" in plan, plan
    assert out.count() == 2 * n


def test_sq8_corpus_sized_queries_bounded_grid(spark):
    """Same ADVICE shape for _int_topk: at query_pred=None each cogroup held
    the full query set (Q × 65536 int64 scores ≈ 63 GB per task at 120k rows).
    The grid bounds it; 100k × 100k sq8 scan runs end-to-end, sampled queries
    replayed exactly in NumPy (same integer quantization algebra)."""
    from lmw_tree_spark.operators.pq import SQ8_FP_BITS, sq8_topk

    n, d = 100_000, 8
    df, x = _det_df(spark, n, d)
    out = sq8_topk(df, k=2, query_pred=None)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    pdf = out.toPandas()
    assert len(pdf) == 2 * n
    # exact integer replay of sq8_encode
    f = np.floor(x * float(1 << SQ8_FP_BITS)).astype(np.int64)
    scale = np.maximum(1, np.abs(f).max(axis=1))
    qc = 2 * ((f + scale[:, None]) * 127 // (2 * scale[:, None])) - 127
    nids = np.arange(n)
    for qid in (0, 2, 4_242, 99_998):
        s = qc @ qc[qid]
        want = _np_topk_pairs(-s, nids, 2, qid)  # score DESC == -s ASC
        got = pdf[pdf.query_id == qid].sort_values("rank")
        assert [(-v, i) for v, i in zip(got.score, got.neighbor_id)] == want


def _scaled_fixedpoint(spark, n, d, scale):
    """_det_df vectors times ``scale``, their fixed-point codes floor(x·2^20),
    and the int64 fallback's overflow bound max|a|·max|b|·d."""
    from lmw_tree_spark.operators.pq import SQ8_FP_BITS

    df, x = _det_df(spark, n, d)
    big = df.selectExpr(
        "vec_id", f"transform(embedding, v -> v * {scale:.1f}D) AS embedding"
    )
    f = np.floor(x * scale * float(1 << SQ8_FP_BITS)).astype(np.int64)
    amax = int(np.abs(f).max())
    return big, f, amax * amax * d


def test_int_topk_exact_fallback_beyond_float53(spark):
    """fixedpoint codes whose products land in [2^53, 2^63) overflow the
    float64-exact bound but not int64, forcing the exact int64 matmul
    fallback — scores must be exact."""
    from lmw_tree_spark.operators.pq import fixedpoint_topk

    n, d = 200, 4
    big, f, bound = _scaled_fixedpoint(spark, n, d, 33.0)
    assert 2**53 <= bound < 2**63
    pdf = fixedpoint_topk(big, k=2, query_pred=None).toPandas()
    nids = np.arange(n)
    for qid in (0, 3, 199):
        s = f @ f[qid]
        want = _np_topk_pairs(-s, nids, 2, qid)
        got = pdf[pdf.query_id == qid].sort_values("rank")
        assert [(-v, i) for v, i in zip(got.score, got.neighbor_id)] == want


def test_int_topk_raises_at_int64_overflow(spark):
    """At max|a|·max|b|·d >= 2^63 the int64 matmul could wrap silently and
    rank wrong neighbors; the scan must raise instead."""
    from lmw_tree_spark.operators.pq import fixedpoint_topk

    big, _f, bound = _scaled_fixedpoint(spark, 200, 4, 1024.0)
    assert bound >= 2**63
    with pytest.raises(Exception, match="exceed int64"):
        fixedpoint_topk(big, k=2, query_pred=None).collect()


def test_topk_mask_mass_ties_exact():
    """_topk_mask under mass ties: many equal values at the threshold must be
    filled smallest-column-first (columns are nid-ascending by contract)."""
    from lmw_tree_spark.operators.pq import _topk_mask

    key = np.array(
        [
            [5.0, 1.0, 1.0, 1.0, 1.0, 0.0],   # t=1.0, need 2 of the 4 ties
            [2.0, 2.0, 2.0, 2.0, 2.0, 2.0],   # all tied
            [0.0, 1.0, 2.0, 3.0, 4.0, 5.0],   # no ties
        ]
    )
    rows, cols = _topk_mask(key, 3)
    got = {r: [] for r in range(3)}
    for r, c in zip(rows, cols):
        got[r].append(c)
    assert got[0] == [1, 2, 5]
    assert got[1] == [0, 1, 2]
    assert got[2] == [0, 1, 2]
    # kk >= width: everything selected
    rows, cols = _topk_mask(key, 6)
    assert len(rows) == 18


def test_pq_adc_corpus_dense_path_distinct_vectors(spark):
    """Same query_pred=None grid, but with a trained codebook over a large
    code space (ksub^m >> n) so most rows keep DISTINCT codes — duplicate-row
    collapse can't engage and the dense (Q x B) gather kernel runs in every
    grid cell, per-task memory bounded by q_chunk_rows x chunk_rows. Sampled
    queries replayed exactly vs NumPy."""
    n, d, m, ksub = 8_192, 16, 8, 256
    df = spark.range(n).selectExpr(
        "id AS vec_id",
        f"transform(sequence(1, {d}), j -> ((id * (j * 2654435761 + 40503)) % 9973) / 7.0D) AS embedding",
    )
    ids = np.arange(n, dtype=np.int64)
    jj = np.arange(1, d + 1, dtype=np.int64)
    x = ((ids[:, None] * (jj[None, :] * 2654435761 + 40503)) % 9973) / 7.0
    rng = np.random.default_rng(9)
    cb = rng.uniform(0, 9973 / 7.0, (m, ksub, d // m))
    codes = _np_encode(x, cb)
    assert len(np.unique(codes, axis=0)) > n * 0.5  # really the dense path
    out = pq_adc_topk(
        df, cb, k=2, query_pred=None, chunk_rows=4096, q_chunk_rows=4096
    )
    pdf = out.toPandas()
    assert len(pdf) == 2 * n
    nids = np.arange(n)
    for qid in (0, 999, 8_000):
        lut = ((x[qid].reshape(m, d // m)[:, None, :] - cb) ** 2).sum(2)
        adc = np.zeros(n)
        for j in range(m):
            adc += lut[j, codes[:, j]]
        adc = np.round(adc, 6)
        want = _np_topk_pairs(adc, nids, 2, qid)
        got = pdf[pdf.query_id == qid].sort_values("rank")
        assert [(v, i) for v, i in zip(got.adc_dist, got.neighbor_id)] == want
