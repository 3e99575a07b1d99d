"""Product-quantization (PQ) ANN — the compressed-domain scale path for
similarity search over embeddings.

Jégou, Douze & Schmid, "Product Quantization for Nearest Neighbor Search"
(IEEE PAMI 2011): split a D-dim vector into M subvectors, vector-quantize each
subspace against its own ``ksub``-entry codebook, and score queries against the
M-byte codes via an asymmetric distance computation (ADC) — a per-query
(M × ksub) lookup table of exact query-to-centroid squared distances, summed by
code. This is the float-vector analogue of the reference engine's compact
bitwise signatures (TopSig vectors scanned with XOR+POPCNT,
/root/reference/src/lmw/SVector.h:297-364): both replace full-precision rows
with a fixed small per-row payload so the scan is memory-bandwidth-, not
compute-, bound.

Scale design (10^12 rows): the codebook is tiny (M·ksub·(D/M) = D·ksub floats —
it rides every closure), encoding is a pure map stage (no shuffle), and the
codes table is M bytes/row instead of 4·D — a 32-dim float64 row compresses 32×
at M=8, ksub=16. The ADC scan is a cogrouped scan of the codes table against a
distributed query side — per-query LUTs are built INSIDE each scoring group
from the query vectors it carries, so the query set is never materialized on
the driver and may be corpus-sized; compose with ``similarity.ivf_cells`` to
restrict the scan to probed cells (IVF-ADC, the paper's IVFADC variant) when
even the compressed scan is too large.

Every decision step (encode argmin with first-wins ties, LUT build, ADC sum,
top-k rank) is deterministic and SQL-replayable — the driver query materializes
embeddings + codebook and DuckDB independently replays encode+ADC end-to-end.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _subspace_views(x: np.ndarray, m: int) -> np.ndarray:
    """(N, D) → (M, N, D/M) contiguous subspace slices."""
    n, d = x.shape
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    dsub = d // m
    return np.ascontiguousarray(x.reshape(n, m, dsub).transpose(1, 0, 2))


def train_pq(
    df: DataFrame,
    m: int = 8,
    ksub: int = 16,
    sample: int = 2048,
    iters: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Fit per-subspace codebooks on a deterministic hash-ordered sample →
    (m, ksub, dsub) float64.

    Mirrors ``similarity.train_ivf_centroids``: the sample is ordered by
    ``xxhash64(id)`` so the fit is identical at any partitioning/parallelism —
    the codebook is trusted state for the oracle (like IVF centroids), while
    encode + ADC are independently replayed.
    """
    rows = (
        df.select(vec_col, F.xxhash64(F.col(id_col).cast("string"), F.lit(seed)).alias("h"))
        .orderBy("h")
        .limit(sample)
        .collect()
    )
    x = np.array([r[vec_col] for r in rows], dtype=np.float64)
    subs = _subspace_views(x, m)
    rng = np.random.default_rng(seed)
    books = []
    for mm in range(m):
        xs = subs[mm]
        cents = xs[rng.permutation(len(xs))[:ksub]].copy()
        for _ in range(iters):
            d2 = ((xs[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            a = d2.argmin(axis=1)  # first-wins ties, reference Optimizer.h:91-104 rule
            for c in range(ksub):
                sel = xs[a == c]
                if len(sel):
                    cents[c] = sel.mean(axis=0)
        books.append(cents)
    return np.ascontiguousarray(np.stack(books))


PQ_CODES_SCHEMA = "vec_id long, codes array<int>"


def pq_encode(
    df: DataFrame,
    codebook: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode every row to M codes: per subspace, argmin squared L2 against that
    subspace's codebook (first-wins = lowest code on exact ties). Pure map stage
    — codebook rides the task closure (broadcast-sized), no shuffle."""
    cb = np.ascontiguousarray(codebook, dtype=np.float64)
    m = cb.shape[0]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.array(list(pdf[vec_col]), dtype=np.float64)
            subs = _subspace_views(x, m)
            codes = np.empty((len(x), m), dtype=np.int32)
            for mm in range(m):
                d2 = ((subs[mm][:, None, :] - cb[mm][None, :, :]) ** 2).sum(axis=2)
                codes[:, mm] = d2.argmin(axis=1)
            yield pd.DataFrame(
                {id_col: pdf[id_col].to_numpy(), "codes": list(codes)}
            ).rename(columns={id_col: "vec_id"})

    return df.select(id_col, vec_col).mapInPandas(run, PQ_CODES_SCHEMA)


def _empty_scored() -> pd.DataFrame:
    return pd.DataFrame(
        {
            "query_id": np.empty(0, np.int64),
            "neighbor_id": np.empty(0, np.int64),
            "adc_dist": np.empty(0, np.float64),
        }
    )


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    """Global (adc asc, neighbor asc) top-k window over the map-side-combined
    per-group shortlists, self-matches removed."""
    scored = scored.where(F.col("query_id") != F.col("neighbor_id"))
    w = Window.partitionBy("query_id").orderBy(F.asc("adc_dist"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "adc_dist", F.col("rank").cast("int"))
    )


def pq_adc_topk(
    df: DataFrame,
    codebook: np.ndarray,
    k: int = 3,
    query_pred=None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codes: DataFrame | None = None,
    round_digits: int = 6,
    chunk_rows: int = 65536,
    n_rows: int | None = None,
    q_chunk_rows: int = 4096,
    n_queries: int | None = None,
) -> DataFrame:
    """Asymmetric-distance top-k: exact queries vs PQ-encoded database.

    Per query, an (M × ksub) LUT of exact squared subspace distances is built
    once; each database row's approximate distance is the sum of M LUT gathers
    on its codes — the ADC scan (PAMI 2011 §IV.A). Ranking: adc ascending,
    ties → neighbor_id ascending. Output (query_id, neighbor_id, adc_dist,
    rank).

    Distributed shape (no driver materialization anywhere, bounded per-task
    memory on BOTH sides): the codes table is hash-partitioned into
    ``ceil(n / chunk_rows)`` chunks AND the query side into
    ``ceil(Q / q_chunk_rows)`` query-chunks; each side is replicated across
    the other's chunk axis and a cogrouped ``applyInPandas`` scores each
    (code-chunk × query-chunk) grid cell — the LUT is built INSIDE the group
    from the query vectors it carries, with only the tiny codebook riding the
    closure. Per-task peak is therefore O(q_chunk_rows · chunk_rows · 8B) for
    the adc matrix (≈1 GB at the defaults) regardless of total Q — including
    ``query_pred=None``, where the query set is the whole corpus. The adc
    matrix is accumulated one subspace at a time (m gathers of (Q, B) each),
    never materializing a (Q, B, m) intermediate. Each group emits a
    per-query shortlist guaranteed to contain the global top-(k+1) under
    (adc, neighbor_id) ascending (lossless map-side combine), so the final
    window shuffles O(Q × n_chunks × k) rows. The full scan is inherently
    O(Q·n) compute — queries-times-everything is the eval shape; compose with
    IVF (:func:`ivfadc_topk`) when even the compressed full scan is too
    large."""
    cb = np.ascontiguousarray(codebook, dtype=np.float64)
    m, ksub, _ = cb.shape
    queries = df if query_pred is None else df.where(query_pred)
    if codes is None:
        codes = pq_encode(df, codebook, id_col, vec_col)
        if n_rows is None:
            n_rows = df.count()
        if n_queries is None and query_pred is None:
            n_queries = n_rows  # codes and queries are both all of df
    elif n_rows is None:
        # the scan iterates the supplied codes table, which may be a filtered
        # or pre-built subset of df — size the chunk grid from ITS cardinality
        n_rows = codes.count()
    n_chunks = max(1, -(-int(n_rows) // chunk_rows))
    if n_queries is None:
        n_queries = queries.count()
    n_qchunks = max(1, -(-int(n_queries) // q_chunk_rows))

    codes_c = (
        codes.withColumn(
            "chunk",
            F.pmod(
                F.xxhash64(F.col("vec_id").cast("string"), F.lit(7)),
                F.lit(n_chunks),
            ).cast("int"),
        )
        .withColumn("qchunk", F.explode(F.sequence(F.lit(0), F.lit(n_qchunks - 1))))
        .withColumn("qchunk", F.col("qchunk").cast("int"))
    )
    qrep = (
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).cast("array<double>").alias("qvec"),
        )
        .withColumn(
            "qchunk",
            F.pmod(
                F.xxhash64(F.col("query_id").cast("string"), F.lit(11)),
                F.lit(n_qchunks),
            ).cast("int"),
        )
        .withColumn("chunk", F.explode(F.sequence(F.lit(0), F.lit(n_chunks - 1))))
        .withColumn("chunk", F.col("chunk").cast("int"))
    )

    def score(codes_pdf: pd.DataFrame, q_pdf: pd.DataFrame) -> pd.DataFrame:
        if not len(codes_pdf) or not len(q_pdf):
            return _empty_scored()
        c = np.array(list(codes_pdf["codes"]), dtype=np.int64)  # (B, m)
        nids = codes_pdf["vec_id"].to_numpy()
        # pre-sort the code side by neighbor id so the shortlist's tie fill
        # is id-ascending without an O(Q·B) column reorder later
        b_ord = np.argsort(nids, kind="stable")
        nids, c = nids[b_ord], c[b_ord]
        qx = np.array(list(q_pdf["qvec"]), dtype=np.float64)
        qids = q_pdf["query_id"].to_numpy()
        return _adc_shortlist(qids, nids, c, qx, cb, k, round_digits)

    scored = (
        codes_c.groupby("chunk", "qchunk")
        .cogroup(qrep.groupby("chunk", "qchunk"))
        .applyInPandas(score, "query_id long, neighbor_id long, adc_dist double")
    )
    return _rank_topk(scored, k)


def _topk_mask(key: np.ndarray, kk: int) -> tuple[np.ndarray, np.ndarray]:
    """(rows, cols) of each row's ``kk`` smallest entries under
    (key, column-index) ascending — EXACT under ties, so columns must already
    be in tie-break (neighbor-id ascending) order.

    Selection, not sort. Fast path: one ``np.argpartition`` pass per row plus
    ONE streaming comparison pass to detect boundary ambiguity — a row is
    unambiguous iff count(key <= t) == kk, where t is its kk-th smallest
    value, in which case ANY kk-subset of smallest values (argpartition's
    included) is exactly the right set. Only rows where ties straddle the
    boundary (more values equal to t than free slots — mass ties from
    identical vectors → identical codes, routine in dedup corpora) take the
    exact slow path: everything strictly below t is in, and boundary ties are
    filled first-column-first via a cumulative count, honoring the
    id-ascending tie rule a plain argpartition would break. The full per-row
    lexsort this replaces is exact too but O(B log B) per row — an order of
    magnitude slower than these O(B) passes at scan-group sizes."""
    q, b = key.shape
    if kk >= b:
        return np.repeat(np.arange(q), b), np.tile(np.arange(b), q)
    idx = np.argpartition(key, kk - 1, axis=1)[:, :kk]
    vals = np.take_along_axis(key, idx, axis=1)
    t = vals.max(axis=1)
    cnt_le = np.count_nonzero(key <= t[:, None], axis=1)
    ambiguous = np.flatnonzero(cnt_le > kk)
    if not len(ambiguous):
        rows = np.repeat(np.arange(q), kk)
        return rows, idx.ravel()
    # exact fix on the (typically small) ambiguous subset only
    ka, ta = key[ambiguous], t[ambiguous, None]
    lt = ka < ta
    eq = ka == ta
    need = kk - lt.sum(axis=1, dtype=np.int32)
    sel = lt | (eq & (eq.cumsum(axis=1, dtype=np.int32) <= need[:, None]))
    ok = np.setdiff1d(np.arange(q), ambiguous, assume_unique=True)
    rows_a, cols_a = np.nonzero(sel)
    rows = np.concatenate([np.repeat(ok, kk), ambiguous[rows_a]])
    cols = np.concatenate([idx[ok].ravel(), cols_a])
    return rows, cols


def _batch_topk(
    qids: np.ndarray,
    nids: np.ndarray,
    adc: np.ndarray,
    k: int,
    nid_sorted: bool = False,
) -> pd.DataFrame:
    """Per-query top-(k+1) rows of one scored batch under (adc, neighbor_id)
    ascending — k+1 so the self-match a query may contain is survivable. The
    global window in :func:`_rank_topk` applies the exact same order, so the
    shortlist only has to CONTAIN the top rows (lossless map-side combine);
    emission order within the group is free, which is what lets
    :func:`_topk_mask` skip the per-row sort entirely."""
    if not nid_sorted:
        order = np.argsort(nids, kind="stable")
        nids = nids[order]
        adc = adc[:, order]
    rows, cols = _topk_mask(adc, min(k + 1, adc.shape[1]))
    return pd.DataFrame(
        {
            "query_id": qids[rows],
            "neighbor_id": nids[cols],
            "adc_dist": adc[rows, cols],
        }
    )


def _collapse_rows(mat: np.ndarray, nids: np.ndarray):
    """Group duplicate rows of ``mat`` (rows must already be nid-ascending).

    Dedup corpora — this repo's flagship domain — are full of identical
    vectors, which encode to identical code rows; scoring each copy is pure
    waste. Returns (uniq, counts, starts, pos_nids, first_nids): the distinct
    rows, each one's multiplicity, and its copies' neighbor ids (ascending
    per group, so ``first_nids`` is each unique's smallest id)."""
    uniq, inv = np.unique(mat, axis=0, return_inverse=True)
    order = np.argsort(inv, kind="stable")
    counts = np.bincount(inv, minlength=len(uniq))
    starts = np.zeros(len(uniq) + 1, dtype=np.int64)
    np.cumsum(counts, out=starts[1:])
    pos_nids = nids[order]
    return uniq, counts, starts, pos_nids, pos_nids[starts[:-1]]


def _topk_counts(
    key_u: np.ndarray,
    counts: np.ndarray,
    starts: np.ndarray,
    pos_nids: np.ndarray,
    first_nids: np.ndarray,
    kk: int,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(rows, nids, vals): each query-row's exact top-``kk`` under
    (key, neighbor_id) ascending over the EXPANDED rows — each unique row
    repeated ``counts[u]`` times with its own neighbor ids.

    Fully vectorized and exact: order uniques per query by (key, first_nid) —
    the top-kk EXPANDED copies provably live inside the first kk uniques of
    that order (each earlier unique contributes at least one copy ranking
    ahead) — then materialize at most kk candidate copies per shortlisted
    unique and lexsort the tiny (Q, kk²) candidate grid."""
    q, u = key_u.shape
    if u > kk:
        ordu = np.lexsort(
            (np.broadcast_to(first_nids, (q, u)), key_u), axis=1
        )[:, :kk]
    else:
        ordu = np.broadcast_to(np.arange(u), (q, u))
    take = np.minimum(counts[ordu], kk)  # (q, j) copies that can matter
    width = int(take.max(initial=1))
    idx = np.arange(width)
    valid = idx[None, None, :] < take[..., None]
    base = np.minimum(starts[ordu][..., None] + idx[None, None, :], len(pos_nids) - 1)
    cn = np.where(valid, pos_nids[base], np.iinfo(np.int64).max)
    vals_u = np.take_along_axis(key_u, ordu, axis=1)
    pad = np.inf if np.issubdtype(key_u.dtype, np.floating) else np.iinfo(key_u.dtype).max
    cv = np.where(valid, np.broadcast_to(vals_u[..., None], valid.shape), pad)
    cn, cv, valid = cn.reshape(q, -1), cv.reshape(q, -1), valid.reshape(q, -1)
    sel = np.lexsort((cn, cv), axis=1)[:, :kk]
    ok = np.take_along_axis(valid, sel, axis=1)
    rows = np.broadcast_to(np.arange(q)[:, None], sel.shape)[ok]
    return (
        rows,
        np.take_along_axis(cn, sel, axis=1)[ok],
        np.take_along_axis(cv, sel, axis=1)[ok],
    )


def _adc_shortlist(
    qids: np.ndarray,
    nids: np.ndarray,
    c: np.ndarray,
    qx: np.ndarray,
    cb: np.ndarray,
    k: int,
    round_digits: int,
) -> pd.DataFrame:
    """One scoring group's per-query top-(k+1) ADC shortlist (exact global
    (adc, neighbor_id) order; see :func:`_batch_topk` for why order within
    the group is free). ``nids`` must be ascending; ``c`` the matching codes.

    Adaptive kernel: when duplicate code rows collapse the group below half
    its size (identical images → identical codes, routine in dedup corpora),
    score the (Q × U) unique rows and expand by multiplicity — the scan cost
    drops from O(Q·B·m) to O(Q·U·m). Otherwise the dense (Q × B) gather with
    selection runs. Both paths are bitwise-identical per row (same LUT walk,
    same rounding)."""
    m, ksub, _ = cb.shape
    b = len(c)
    kk = min(k + 1, b)
    uniqc, counts, starts, pos_nids, first_nids = _collapse_rows(c, nids)
    lut2 = _build_lut(qx, cb)
    if 2 * len(uniqc) <= b:
        adc_u = np.zeros((len(qx), len(uniqc)))
        for j in range(m):
            adc_u += lut2[:, j * ksub + uniqc[:, j]]
        adc_u = np.round(adc_u, round_digits)
        rows, sel_nids, vals = _topk_counts(
            adc_u, counts, starts, pos_nids, first_nids, kk
        )
        return pd.DataFrame(
            {"query_id": qids[rows], "neighbor_id": sel_nids, "adc_dist": vals}
        )
    # dense scan: subspace-at-a-time accumulation, 1/m the memory of a
    # (Q, B, m) gather — left-to-right summation, which matches
    # (Q, B, m).sum(axis=2) bitwise only for m < 8 (NumPy sums reductions
    # of 8 or more terms in 8 interleaved accumulators)
    adc = np.zeros((len(qx), b))
    for j in range(m):
        adc += lut2[:, j * ksub + c[:, j]]
    adc = np.round(adc, round_digits)
    return _batch_topk(qids, nids, adc, k, nid_sorted=True)


def _build_lut(qx: np.ndarray, cb: np.ndarray) -> np.ndarray:
    """(Q, D) queries × (m, ksub, dsub) codebook → (Q, m*ksub) flat LUT of
    exact squared subspace distances."""
    m, ksub, _ = cb.shape
    qsubs = _subspace_views(qx, m)
    return np.ascontiguousarray(
        ((qsubs[:, :, None, :] - cb[:, None, :, :]) ** 2).sum(axis=3).transpose(1, 0, 2)
    ).reshape(len(qx), m * ksub)


def ivfadc_topk(
    df: DataFrame,
    coarse: np.ndarray,
    codebook: np.ndarray,
    k: int = 3,
    n_probe: int = 4,
    query_pred=None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """IVF + ADC: the compressed scan restricted to each query's ``n_probe``
    nearest coarse cells (Jégou et al. PAMI 2011 §V — the ``by_residual=False``
    variant: codes quantize the raw vectors, not cell residuals, so the ADC
    algebra is identical to ``pq_adc_topk`` and fully SQL-replayable).

    Plan shape: cell assignment and encoding are pure maps; the scan is a
    cell-cogroup (probes × candidate codes — no cross join) followed by an
    Arrow-batched LUT gather and the top-k window. At 10^12 rows the per-query
    work is ~n/n_cells·n_probe code lookups of M bytes each.

    Distributed shape (no driver materialization anywhere): cell assignment,
    encoding, and query→probe-cell expansion are all pure Arrow-batched maps
    (only the small coarse matrix + codebook ride closures); a cogrouped
    ``applyInPandas`` on ``cell`` pairs each cell's codes with the queries
    probing it, builds the per-query LUTs inside the group from the query
    vectors the probe rows carry, and emits per-query top-(k+1) shortlists
    under the exact global (adc, neighbor_id) order — the final window
    shuffles O(queries × n_probe × k) rows."""
    from lmw_tree_spark.operators.similarity import ivf_cells

    cb = np.ascontiguousarray(codebook, dtype=np.float64)
    m, ksub, _ = cb.shape
    cmat = np.ascontiguousarray(coarse, dtype=np.float64)
    cells = ivf_cells(df, cmat, id_col, vec_col).withColumnRenamed(id_col, "vec_id")
    codes = pq_encode(df, cb, id_col, vec_col)
    base = codes.join(cells, "vec_id")
    queries = df if query_pred is None else df.where(query_pred)

    def probe(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # query → its n_probe nearest cells (stable sort = cell-asc ties,
        # matching the oracle's ORDER BY dist ASC, cell ASC); the query vector
        # rides along so the scoring group can build its LUT locally
        for pdf in batches:
            if not len(pdf):
                continue
            qx = np.array(list(pdf[vec_col]), dtype=np.float64)
            qd = ((qx[:, None, :] - cmat[None, :, :]) ** 2).sum(axis=2)
            top = np.argsort(qd, axis=1, kind="stable")[:, :n_probe].astype(np.int32)
            p = top.shape[1]
            vecs = [list(v) for v in qx for _ in range(p)]
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(pdf[id_col].to_numpy(), p),
                    "qvec": vecs,
                    "cell": top.ravel(),
                }
            )

    q_probes = queries.select(id_col, vec_col).mapInPandas(
        probe, "query_id long, qvec array<double>, cell int"
    )

    def score(codes_pdf: pd.DataFrame, q_pdf: pd.DataFrame) -> pd.DataFrame:
        if not len(codes_pdf) or not len(q_pdf):
            return _empty_scored()
        c = np.array(list(codes_pdf["codes"]), dtype=np.int64)
        nids = codes_pdf["vec_id"].to_numpy()
        b_ord = np.argsort(nids, kind="stable")
        nids, c = nids[b_ord], c[b_ord]
        qx = np.array(list(q_pdf["qvec"]), dtype=np.float64)
        qids = q_pdf["query_id"].to_numpy()
        return _adc_shortlist(qids, nids, c, qx, cb, k, round_digits)

    scored = (
        base.groupby("cell")
        .cogroup(q_probes.groupby("cell"))
        .applyInPandas(score, "query_id long, neighbor_id long, adc_dist double")
    )
    return _rank_topk(scored, k)


# ---------------------------------------------------------------------------
# SQ8 — per-vector symmetric int8 scalar quantization
# ---------------------------------------------------------------------------

SQ8_FP_BITS = 20
_SQ8_FP = float(1 << SQ8_FP_BITS)


def _fixed_point(vec_col: str):
    """array<float|double> → array<long> fixed-point: floor(x · 2^20).

    Multiplying a double by a power of two is EXACT in IEEE-754 (exponent
    shift, no mantissa rounding), and floor of a double is deterministic — so
    any engine reading the same parquet derives bit-identical integers, which
    is what makes the whole SQ8 family SQL-replayable with no trusted state.
    """
    return F.transform(
        F.col(vec_col).cast("array<double>"),
        lambda x: F.floor(x * F.lit(_SQ8_FP)).cast("long"),
    )


def sq8_encode(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Per-vector symmetric int8 scalar quantization (SQ8) — the 4-8×
    cheaper, lower-fidelity sibling of PQ: each dimension collapses to one
    byte against the vector's own max-abs scale. Faiss's
    ``ScalarQuantizer(QT_8bit)`` shape, re-expressed as exact integer algebra:

      f_i    = floor(x_i · 2^20)                       (fixed point)
      scale  = max(1, max_i |f_i|)
      q_i    = ((f_i + scale) · 127) div (2·scale)     ∈ [0, 127]
      qc_i   = 2·q_i − 127                             ∈ [−127, 127]

    The shifted-non-negative floor division makes the rounding rule portable
    (floor == trunc for non-negative operands), so DuckDB replays every code
    bit-for-bit. Zero Python: one whole-stage-codegen projection per row —
    at 10^12 rows this is a pure map with output 1 byte/dim + one long.

    Output: (id_col, scale long, qcode array<int>).
    """
    out = df.select(F.col(id_col), _fixed_point(vec_col).alias("f")).select(
        id_col,
        "f",
        F.greatest(
            F.aggregate(
                "f",
                F.lit(0).cast("long"),
                lambda a, x: F.greatest(a, F.abs(x)),
            ),
            F.lit(1).cast("long"),
        ).alias("scale"),
    )
    return out.select(
        id_col,
        "scale",
        F.expr(
            "transform(f, x -> CAST(2 * (((x + scale) * 127) div (2 * scale)) "
            "- 127 AS INT))"
        ).alias("qcode"),
    )


def _int_dot(a: str, b: str):
    """Exact integer dot product of two array<int|long> columns (JVM)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("long") * y.cast("long")),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def _int_topk(
    vecs: DataFrame,
    k: int,
    query_pred,
    code_col: str,
    id_col: str,
    chunk_rows: int = 65536,
    q_chunk_rows: int = 4096,
) -> DataFrame:
    """Integer-dot top-k with deterministic ties (score desc, neighbor id asc).

    Two plans, one result algebra:

    * bounded query set (``query_pred`` given) — broadcast the predicate-
      selected queries and score with the whole-stage-codegen integer dot
      (zero Python), the eval-scoped shape of ``similarity.cosine_topk``;
    * ``query_pred=None`` (everything-vs-everything, the dedup shape) — no
      broadcast, no driver materialization, and bounded per-task memory on
      BOTH sides: hash-chunk the base table into ``ceil(n / chunk_rows)``
      chunks AND the query side into ``ceil(n / q_chunk_rows)`` query-chunks,
      replicate each side across the other's chunk axis, and score each
      (chunk × qchunk) grid cell with one exact matmul — per-task peak is
      O(q_chunk_rows · chunk_rows · 8B) regardless of total query count.
      Each cell emits a per-query shortlist guaranteed to contain the global
      top-(k+1) under (−score, neighbor_id) order (lossless map-side
      combine; the final window re-applies the exact order).
    """
    if query_pred is not None:
        base = vecs.select(
            F.col(id_col).alias("neighbor_id"), F.col(code_col).alias("b_code")
        )
        queries = vecs.where(query_pred).select(
            F.col(id_col).alias("query_id"), F.col(code_col).alias("a_code")
        )
        scored = (
            F.broadcast(queries)
            .crossJoin(base)
            .where(F.col("query_id") != F.col("neighbor_id"))
            .select(
                "query_id",
                "neighbor_id",
                _int_dot("a_code", "b_code").alias("score"),
            )
        )
    else:
        n_rows = vecs.count()
        n_chunks = max(1, -(-int(n_rows) // chunk_rows))
        n_qchunks = max(1, -(-int(n_rows) // q_chunk_rows))
        base_c = (
            vecs.select(
                F.col(id_col).alias("neighbor_id"), F.col(code_col).alias("b_code")
            )
            .withColumn(
                "chunk",
                F.pmod(
                    F.xxhash64(F.col("neighbor_id").cast("string"), F.lit(7)),
                    F.lit(n_chunks),
                ).cast("int"),
            )
            .withColumn(
                "qchunk", F.explode(F.sequence(F.lit(0), F.lit(n_qchunks - 1)))
            )
            .withColumn("qchunk", F.col("qchunk").cast("int"))
        )
        qrep = (
            vecs.select(
                F.col(id_col).alias("query_id"), F.col(code_col).alias("a_code")
            )
            .withColumn(
                "qchunk",
                F.pmod(
                    F.xxhash64(F.col("query_id").cast("string"), F.lit(11)),
                    F.lit(n_qchunks),
                ).cast("int"),
            )
            .withColumn("chunk", F.explode(F.sequence(F.lit(0), F.lit(n_chunks - 1))))
            .withColumn("chunk", F.col("chunk").cast("int"))
        )

        def score_group(b_pdf: pd.DataFrame, q_pdf: pd.DataFrame) -> pd.DataFrame:
            if not len(b_pdf) or not len(q_pdf):
                return pd.DataFrame(
                    {
                        "query_id": np.empty(0, np.int64),
                        "neighbor_id": np.empty(0, np.int64),
                        "score": np.empty(0, np.int64),
                    }
                )
            b = np.array(list(b_pdf["b_code"]), dtype=np.int64)  # (B, D)
            a = np.array(list(q_pdf["a_code"]), dtype=np.int64)  # (Q, D)
            nids = b_pdf["neighbor_id"].to_numpy()
            qids = q_pdf["query_id"].to_numpy()
            b_ord = np.argsort(nids, kind="stable")
            nids, b = nids[b_ord], b[b_ord]
            kk = min(k + 1, len(b))
            # collapse duplicate neighbor rows (identical vectors → identical
            # codes, routine in dedup corpora): score unique rows once and
            # expand by multiplicity — exact, same algebra per row
            uniqb, counts, starts, pos_nids, first_nids = _collapse_rows(b, nids)
            collapsed = 2 * len(uniqb) <= len(b)
            bmat = uniqb if collapsed else b
            amax = int(np.abs(a).max(initial=0))
            bmax = int(np.abs(bmat).max(initial=0))
            if amax * bmax * a.shape[1] < 2**53:
                # every partial sum fits the float64 mantissa exactly, so the
                # BLAS float matmul IS the exact integer product — 10-100×
                # faster than NumPy's non-BLAS int64 matmul. The QUERY side is
                # negated before the matmul (an O(Q·D) touch) so the selection
                # key (score descending == −score ascending) comes straight
                # out of BLAS with no extra O(Q·B) negate or int-cast pass;
                # only the selected kk values per query are cast back.
                neg_s = (-a).astype(np.float64) @ bmat.T.astype(np.float64)
            elif amax * bmax * a.shape[1] < 2**63:
                neg_s = -(a @ bmat.T)  # exact int64 fallback (fixed-point extremes)
            else:
                raise OverflowError(
                    f"integer dot products may exceed int64: max|a|·max|b|·d = "
                    f"{amax * bmax * a.shape[1]} >= 2^63"
                )
            if collapsed:
                rows, sel_nids, vals = _topk_counts(
                    neg_s, counts, starts, pos_nids, first_nids, kk
                )
                return pd.DataFrame(
                    {
                        "query_id": qids[rows],
                        "neighbor_id": sel_nids,
                        "score": (-vals).astype(np.int64),
                    }
                )
            rows, cols = _topk_mask(neg_s, kk)
            return pd.DataFrame(
                {
                    "query_id": qids[rows],
                    "neighbor_id": nids[cols],
                    "score": (-neg_s[rows, cols]).astype(np.int64),
                }
            )

        scored = (
            base_c.groupby("chunk", "qchunk")
            .cogroup(qrep.groupby("chunk", "qchunk"))
            .applyInPandas(score_group, "query_id long, neighbor_id long, score long")
            .where(F.col("query_id") != F.col("neighbor_id"))
        )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score", F.col("rank").cast("int"))
    )


def sq8_topk(
    df: DataFrame,
    k: int = 3,
    query_pred=None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k neighbors under the SQ8 integer dot product (centered codes).

    Output (query_id, neighbor_id, score, rank); ties → neighbor id asc."""
    return _int_topk(sq8_encode(df, id_col, vec_col), k, query_pred, "qcode", id_col)


def fixedpoint_topk(
    df: DataFrame,
    k: int = 3,
    query_pred=None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k neighbors under the EXACT fixed-point dot product — the full-
    precision baseline SQ8 is measured against. All-integer (floor(x·2^20)),
    so both rankings of the recall eval live in the same exact algebra and
    the whole eval is replayable with zero trusted state."""
    vecs = df.select(F.col(id_col), _fixed_point(vec_col).alias("fcode"))
    return _int_topk(vecs, k, query_pred, "fcode", id_col)
