"""Centroid-tree state + NumPy kernels for the hierarchical m-way bit clustering.

This module holds the *small* state (the tree of packed-bit centroids — broadcast
side) and the vectorized kernels shared by the Spark EM-tree operator and the pure
NumPy reference loop used in oracle tests:

- ``CentroidTree`` re-expresses the reference's pointer tree ``Node<T>``
  (/root/reference/src/lmw/Node.h:161-172) as flat per-level arrays
  ``(node_id, parent_idx, centroid)``. At 100k leaves x 4096 bits this is ~51 MB
  packed — broadcastable; the data (10^12 rows) never touches the driver.
- ``descend`` replaces per-row nearest-child pointer chasing
  (/root/reference/src/lmw/Optimizer.h:91-104 + StreamingEMTree.h:205-219) with a
  per-parent vectorized Hamming argmin; first-wins tie-breaking matches the
  reference's sequential scan.
- ``tsvq_init`` is the sample-side seeding (TSVQ recursion,
  /root/reference/src/lmw/TSVQ.h:56-119; random-shuffle seeding
  /root/reference/src/lmw/RandomSeeder.h:23-41) with pinned seeds.
- ``kmeans_bits`` is Lloyd's k-means over packed bit vectors with majority-vote
  prototypes (/root/reference/src/lmw/KMeans.h:14-256), maxiters semantics matching
  the reference (0 = seed + assign only).
- accumulate / update / prune mirror StreamingEMTree's accumulator algebra
  (/root/reference/src/lmw/StreamingEMTree.h:221-311): per-leaf unpacked bit sums +
  counts + SSE; leaf prototypes finalized with the strict ``> count/2`` rule;
  internal prototypes from bottom-up gathered child accumulators; empty nodes pruned.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

from lmw_tree_spark.functions.bitops import (
    hamming_argmin,
    hamming_cdist,
    majority_from_counts,
    pack_bits,
    unpack_bits,
)


@dataclass
class Level:
    node_id: np.ndarray      # (C,) int64 — stable global ids
    parent_idx: np.ndarray   # (C,) int64 — index into previous level (-1 at level 0)
    centroid: np.ndarray     # (C, W) uint64 packed bits


@dataclass
class CentroidTree:
    order: int
    levels: list[Level] = field(default_factory=list)  # levels[0] = root children

    @property
    def depth(self) -> int:
        return len(self.levels)

    @property
    def n_leaves(self) -> int:
        return len(self.levels[-1].node_id)

    def leaf_ids(self) -> np.ndarray:
        return self.levels[-1].node_id

    def to_rows(self) -> list[tuple[int, int, int, list[int]]]:
        """Flatten to (level, node_id, parent_id, centroid words) rows — the
        checkpointable table form (FIXTURES.md §4)."""
        rows = []
        for li, lv in enumerate(self.levels):
            parent_ids = (
                np.full(len(lv.node_id), -1, dtype=np.int64)
                if li == 0
                else self.levels[li - 1].node_id[lv.parent_idx]
            )
            for j in range(len(lv.node_id)):
                rows.append(
                    (
                        li + 1,
                        int(lv.node_id[j]),
                        int(parent_ids[j]),
                        [int(x) for x in lv.centroid[j].view(np.int64)],
                    )
                )
        return rows

    def __getstate__(self):
        # derived descent tensors (_pads/_ppads) never travel — rebuilt per executor
        d = dict(self.__dict__)
        d.pop("_pads", None)
        d.pop("_ppads", None)
        return d

    @staticmethod
    def from_rows(rows, order: int) -> "CentroidTree":
        """Inverse of to_rows (checkpoint restore)."""
        by_level: dict[int, list] = {}
        for level, node_id, parent_id, words in rows:
            by_level.setdefault(int(level), []).append((int(node_id), int(parent_id), words))
        tree = CentroidTree(order=order)
        prev_ids: np.ndarray | None = None
        for level in sorted(by_level):
            entries = sorted(by_level[level])
            node_id = np.array([e[0] for e in entries], dtype=np.int64)
            parent_id = np.array([e[1] for e in entries], dtype=np.int64)
            cents = np.array([e[2] for e in entries], dtype=np.int64).view(np.uint64)
            if prev_ids is None:
                parent_idx = np.full(len(entries), -1, dtype=np.int64)
            else:
                lookup = {int(p): i for i, p in enumerate(prev_ids)}
                parent_idx = np.array([lookup[int(p)] for p in parent_id], dtype=np.int64)
            tree.levels.append(Level(node_id, parent_idx, cents))
            prev_ids = node_id
        return tree


# ---------------------------------------------------------------------------
# descent
# ---------------------------------------------------------------------------


def _level_pads(tree: CentroidTree) -> list:
    """Per-level structures for BLAS descent, cached ON the tree instance (each
    broadcast deserializes one tree object per executor, so the build cost is
    paid once per executor per iteration; the cache never pickles —
    CentroidTree.__getstate__ strips it):

    Rows enter the GEMM as 0/1 float32 (one astype pass — 2.3× cheaper than
    materializing ±1) while centroids stay ±1; the exact ±1·±1 dot is recovered
    per centroid c as ``2·(rows01 @ c) − Σc``, so each pad carries the
    per-centroid offset ``coff = Σc / 2`` (Σc is even for even B, so coff is an
    exact float32 integer; scores stay < 2²⁴, exact).

    [0]: (level-0 centroids ±1 float32 (C0, B), coff (C0,) float32)
    [li≥1]: (kids_pm per parent: list of (m_p, B) float32 ±1 matrices,
             kid_idx per parent: list of (m_p,) int64 global child indices,
             kids_coff per parent: list of (m_p,) float32 offsets)
    """
    cached = tree.__dict__.get("_pads")
    if cached is not None:
        return cached

    def pm(packed: np.ndarray) -> np.ndarray:
        return unpack_bits(packed).astype(np.float32) * 2.0 - 1.0

    c0 = pm(tree.levels[0].centroid)
    pads: list = [(c0, c0.sum(axis=1) / np.float32(2.0))]
    for li in range(1, tree.depth):
        lv = tree.levels[li]
        n_parents = len(tree.levels[li - 1].node_id)
        order = np.argsort(lv.parent_idx, kind="stable")
        bounds = np.searchsorted(lv.parent_idx[order], np.arange(n_parents + 1))
        level_pm = pm(lv.centroid)
        level_coff = level_pm.sum(axis=1) / np.float32(2.0)
        kids_pm = [
            level_pm[order[bounds[p] : bounds[p + 1]]] for p in range(n_parents)
        ]
        kid_idx = [order[bounds[p] : bounds[p + 1]] for p in range(n_parents)]
        kids_coff = [
            level_coff[order[bounds[p] : bounds[p + 1]]] for p in range(n_parents)
        ]
        pads.append((kids_pm, kid_idx, kids_coff))
    tree.__dict__["_pads"] = pads
    return pads


def descend(tree: CentroidTree, sigs: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Assign each row to a leaf by nearest-child descent.

    Returns (leaf_pos (N,) int64 index into the leaf level, per_level_dist
    (N, depth) int64). Distances run on BLAS: with ±1-unpacked bits,
    ``hamming(a, b) = (B - a·b) / 2`` exactly (dot products ≤ 4096 are exact in
    float32), so level 0 is one GEMM against all roots and each deeper level is a
    per-parent-group GEMM against that parent's ≤ m children, or the packed
    kernel on many-parent levels (``_descend_core``) — the reference's
    nearest-child pointer descent (Optimizer.h:91-104) as batched matmuls.
    First-wins argmin tie-breaking matches the reference's sequential scan.
    Rows are chunked so the 0/1 float32 chunk (``_DESCEND_CHUNK`` × B × 4 B =
    16 MB at 4096 bits) stays cache-resident across all depth levels — each
    level re-reads the whole chunk matrix plus one gathered copy, so cache
    residency beats the bigger-GEMM amortization of larger chunks at every
    parallelism level (sweep in ``_DESCEND_CHUNK``'s comment;
    ``tools/profile_kernels.py --chunks`` reproduces it). Every batch size
    takes this one path: a small batch is one short chunk, whose per-level pads
    are built once per tree instance and reused.
    """
    n = sigs.shape[0]
    leaf_pos = np.empty(n, dtype=np.int64)
    dists = np.empty((n, tree.depth), dtype=np.int64)
    for lo in range(0, n, _DESCEND_CHUNK):
        chunk = sigs[lo : lo + _DESCEND_CHUNK]
        rows01 = unpack_bits(chunk).astype(np.float32)  # 0/1 GEMM rows (_level_pads)
        leaf_pos[lo : lo + _DESCEND_CHUNK], dists[lo : lo + _DESCEND_CHUNK] = (
            _descend_core(tree, chunk, rows01)
        )
    return leaf_pos, dists


# A level is processed in the packed domain (fanout-bucketed XOR + SWAR
# popcount) once it has at least this many parents: many parents ⇒ tiny
# per-parent row groups ⇒ the per-group BLAS calls and the level-wide gather
# are overhead-dominated, while the packed path's cost is one vectorized pass
# per distinct fanout. Few-parent levels (big row groups) stay on BLAS GEMMs,
# which win on arithmetic throughput there.
_PACKED_LEVEL_MIN_PARENTS = 256

# Rows per descent chunk. The 0/1 float32 chunk matrix is re-read once per tree
# level, so it should fit the cache share of ONE WORKER — under 32 concurrent
# workers sharing one L3, that share is L3/32, not L3. Swept at the flagship
# geometry (2M×4096-bit, ~2k leaves; rerun with
# ``tools/profile_kernels.py --workers W --chunks 1024,4096``): 1024 rows
# (16 MB float32) beats 4096 at EVERY parallelism level — 1 worker 56.4k vs
# 41.0k sigs/s, 8 workers 224k vs 193k, 32 workers 435k vs 254k — because the
# per-level re-reads and the level gathers stay cache-resident instead of
# streaming through (shared) DRAM.
_DESCEND_CHUNK = 1024

_HUGE = np.int64(1) << np.int64(60)


def _packed_pads(tree: CentroidTree) -> list:
    """Per-level padded kid tensors for the packed descent kernel, cached on the
    tree instance like ``_level_pads`` (never pickled):

    [0]: level-0 packed centroids (C0, W) uint64
    [li≥1]: (cent_pad (P, m, W) uint64 zero-padded, idx_pad (P, m) int64
             global child indices (-1 padding), n_kids (P,) int64)
    """
    cached = tree.__dict__.get("_ppads")
    if cached is not None:
        return cached
    pads: list = [tree.levels[0].centroid]
    for li in range(1, tree.depth):
        lv = tree.levels[li]
        n_par = len(tree.levels[li - 1].node_id)
        order = np.argsort(lv.parent_idx, kind="stable")
        bounds = np.searchsorted(lv.parent_idx[order], np.arange(n_par + 1))
        m = max(int((bounds[1:] - bounds[:-1]).max()) if n_par else 1, 1)
        w = lv.centroid.shape[1]
        cent_pad = np.zeros((n_par, m, w), dtype=np.uint64)
        idx_pad = np.full((n_par, m), -1, dtype=np.int64)
        n_kids = np.zeros(n_par, dtype=np.int64)
        for p in range(n_par):
            ks = order[bounds[p] : bounds[p + 1]]
            cent_pad[p, : len(ks)] = lv.centroid[ks]
            idx_pad[p, : len(ks)] = ks
            n_kids[p] = len(ks)
        pads.append((cent_pad, idx_pad, n_kids))
    tree.__dict__["_ppads"] = pads
    return pads


def _level_packed_bucketed(
    tree: CentroidTree, li: int, sigs: np.ndarray, cur: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """One descent level in the packed domain, vectorized per distinct fanout.

    Rows are bucketed by their parent's child count g; each bucket gathers its
    parents' (g, W) packed kid blocks, XORs against the rows' packed signatures
    and takes the LUT-popcount argmin — one vectorized pass per distinct g
    (≤ tree order of them) instead of one BLAS call per parent. First-wins tie
    semantics are identical to the GEMM path (argmin over children in
    level-array order). Cost ∝ Σ_rows g_row · W words — no ±1 expansion, no
    level-wide gather of the float matrix."""
    from lmw_tree_spark.functions.bitops import popcount_sum_last

    cent_pad, idx_pad, n_kids = _packed_pads(tree)[li]
    n = len(cur)
    new_cur = np.full(n, -1, dtype=np.int64)
    d_out = np.full(n, np.iinfo(np.int64).max, dtype=np.int64)
    safe = np.where(cur >= 0, cur, 0)
    k_of_row = np.where(cur >= 0, n_kids[safe], 0)
    for g in np.unique(k_of_row):
        if g == 0:
            continue
        rows = np.where(k_of_row == g)[0]
        parents = cur[rows]
        kids = cent_pad[:, :g][parents]              # (R, g, W) packed gather
        np.bitwise_xor(kids, sigs[rows][:, None, :], out=kids)
        r = len(rows)
        d = popcount_sum_last(kids)                  # (R, g) SWAR popcount
        j = d.argmin(axis=1)
        new_cur[rows] = idx_pad[parents, j]
        d_out[rows] = d[np.arange(r), j]
    return new_cur, d_out


def _descend_core(
    tree: CentroidTree, sigs: np.ndarray, rows01: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Adaptive descent core: per level, BLAS GEMMs over 0/1 float32 rows for
    few-parent levels (big groups — arithmetic-throughput bound) and the packed
    fanout-bucketed kernel for many-parent levels (tiny groups — call-overhead
    and gather bound). GEMM scores are ``rows01 @ c − coff`` = (±1 dot)/2
    exactly (see ``_level_pads``), so argmax/tie order is identical to the ±1
    dot and distances are ``B/2 − score``. Both paths are exact Hamming argmin
    with identical first-wins ties, so the split is invisible to results
    (pinned by tests)."""
    n = rows01.shape[0]
    pads = _level_pads(tree)
    half_b = np.float32(rows01.shape[1] / 2.0)
    dists = np.empty((n, tree.depth), dtype=np.int64)

    c0, coff0 = pads[0]
    score = rows01 @ c0.T
    score -= coff0[None, :]                         # (n, C0), = ±1 dot / 2
    cur = score.argmax(axis=1).astype(np.int64)     # max score = min hamming
    dists[:, 0] = (half_b - score[np.arange(n), cur]).astype(np.int64)

    sentinel = np.iinfo(np.int64).max
    neg_inf = np.float32(-np.inf)
    for li in range(1, tree.depth):
        if len(tree.levels[li - 1].node_id) >= _PACKED_LEVEL_MIN_PARENTS:
            cur, d_level = _level_packed_bucketed(tree, li, sigs, cur)
            dists[:, li] = d_level
            continue
        kids_pm, kid_idx, kids_coff = pads[li]
        new_cur = np.full(n, -1, dtype=np.int64)
        best = np.full(n, neg_inf, dtype=np.float32)
        order = np.argsort(cur, kind="stable")
        sorted_cur = cur[order]
        lo = np.searchsorted(sorted_cur, 0)          # skip pruned (-1) rows
        present = np.unique(sorted_cur[lo:])
        bounds = np.searchsorted(sorted_cur, present)
        bounds = np.append(bounds, n)
        # one gather into parent order per level: group GEMMs then run on
        # contiguous views (per-group fancy indexing re-copies the whole matrix
        # in bad locality and dominates at ~1000 tiny leaf-level groups)
        sorted01 = rows01[order]
        for k, p in enumerate(present):
            a0, a1 = bounds[k], bounds[k + 1]
            kids = kids_pm[p]
            if kids.shape[0] == 0:                   # parent pruned childless
                continue
            gsc = sorted01[a0:a1] @ kids.T           # (g, m_p), view slice
            gsc -= kids_coff[p][None, :]
            j = gsc.argmax(axis=1)
            rows = order[a0:a1]
            new_cur[rows] = kid_idx[p][j]
            best[rows] = gsc[np.arange(a1 - a0), j]
        dead = new_cur < 0
        best[dead] = half_b                          # placeholder; overwritten below
        d_level = (half_b - best).astype(np.int64)
        d_level[dead] = sentinel
        cur, dists[:, li] = new_cur, d_level
    return cur, dists


# ---------------------------------------------------------------------------
# accumulate / update / prune (StreamingEMTree algebra)
# ---------------------------------------------------------------------------


def accumulate_leaves(
    tree: CentroidTree,
    sigs: np.ndarray,
    out: tuple[np.ndarray, np.ndarray, np.ndarray] | None = None,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """One insert pass over a batch: (bit_sums (L, B) int64, counts (L,), sse (L,)).

    Two passes. Pass A is ``descend`` over the whole batch (it chunks the rows
    to ``_DESCEND_CHUNK`` so each 0/1 float32 chunk stays cache-resident
    across the tree levels; ``tools/profile_kernels.py`` times both). Pass B
    sorts the WHOLE batch by leaf once and segment-sums the unpacked bits in
    leaf order — each leaf's (B,) int64 row in ``sums`` is then written by ~one
    reduction instead of once per chunk; the per-chunk variant re-streamed up
    to min(chunk, L)×B×8 bytes of the sums array every chunk, which dominated
    the pass at flagship shape (L≈10⁴, B=4096 ⇒ a 327 MB array). Unpacking
    twice (pass A for the GEMM matrix, pass B in sorted order) costs ~0.8 µs/row
    — noise next to the saved traffic. Accumulation is half the iteration cost
    per the reference's own breakdown (/root/reference/src/lmw/SVector.h:313-316).

    ``out`` accumulates in place across calls (the caller's per-partition
    running totals), avoiding a full (L, B) temporary + add per Arrow batch.
    """
    n = sigs.shape[0]
    n_leaves = tree.n_leaves
    b = sigs.shape[1] * 64
    if out is None:
        sums = np.zeros((n_leaves, b), dtype=np.int64)
        counts = np.zeros(n_leaves, dtype=np.int64)
        sse = np.zeros(n_leaves, dtype=np.float64)
    else:
        sums, counts, sse = out

    # Pass A: leaf assignment + leaf distance for every row.
    leaf_pos, dists = descend(tree, sigs)
    leaf_d = dists[:, -1]

    counts += np.bincount(leaf_pos, minlength=n_leaves)
    fd = leaf_d.astype(np.float64)
    sse += np.bincount(leaf_pos, weights=fd * fd, minlength=n_leaves)

    # Pass B: one global leaf-order sort, then chunked segment sums. A leaf
    # spanning a chunk boundary just gets two += into its row.
    order = np.argsort(leaf_pos, kind="stable")
    chunk = _DESCEND_CHUNK
    for lo in range(0, n, chunk):
        rows = order[lo : lo + chunk]
        sorted_bits = unpack_bits(sigs[rows])
        sp = leaf_pos[rows]
        uniq, starts = np.unique(sp, return_index=True)
        ends = np.append(starts[1:], len(sp))
        sizes = ends - starts
        # segment sums vectorized per distinct segment LENGTH: one reshape+sum
        # per length (~O(√chunk) of them) instead of one numpy call per leaf
        # (~1k calls/chunk, overhead-dominated at small mean leaf occupancy)
        for g in np.unique(sizes):
            sel = np.where(sizes == g)[0]
            if g == 1:  # most common bucket: plain gather-assign, no reshape
                sums[uniq[sel]] += sorted_bits[starts[sel]]
                continue
            pos = (starts[sel][:, None] + np.arange(g)[None, :]).ravel()
            grp = sorted_bits[pos].reshape(len(sel), int(g), -1)
            sums[uniq[sel]] += grp.sum(axis=1, dtype=np.int64)
    return sums, counts, sse


def update_tree(tree: CentroidTree, bit_sums: np.ndarray, counts: np.ndarray) -> CentroidTree:
    """Finalize accumulators → new centroids (leaves then bottom-up rollup), and
    prune empty nodes. Returns a NEW tree (node ids preserved for survivors)."""
    levels: list[Level | None] = [None] * tree.depth
    level_sums, level_counts = bit_sums, counts

    # walk bottom-up computing per-node accumulators
    acc_by_level: list[tuple[np.ndarray, np.ndarray]] = [None] * tree.depth  # type: ignore
    acc_by_level[-1] = (level_sums, level_counts)
    for li in range(tree.depth - 1, 0, -1):
        parent_count = len(tree.levels[li - 1].node_id)
        child_sums, child_counts = acc_by_level[li]
        p_sums = np.zeros((parent_count, child_sums.shape[1]), dtype=np.int64)
        np.add.at(p_sums, tree.levels[li].parent_idx, child_sums)
        p_counts = np.bincount(
            tree.levels[li].parent_idx, weights=child_counts, minlength=parent_count
        ).astype(np.int64)
        acc_by_level[li - 1] = (p_sums, p_counts)

    # top-down: prune empty, recompute centroids, remap parent indices
    keep_prev: np.ndarray | None = None  # new index for surviving prev-level nodes
    new_tree = CentroidTree(order=tree.order)
    for li in range(tree.depth):
        lv = tree.levels[li]
        sums_l, counts_l = acc_by_level[li]
        alive = counts_l > 0
        if keep_prev is not None:
            alive &= keep_prev[lv.parent_idx] >= 0
        idx_alive = np.where(alive)[0]
        # vectorized majority across all surviving nodes: bit set iff
        # count > total//2 (strict, ties→0; StreamingEMTree.h:274-285) — one
        # pack_bits call per level, not per node (driver-side serial path)
        half = (counts_l[idx_alive] // 2)[:, None]
        new_cents = pack_bits((sums_l[idx_alive] > half).astype(np.uint8))
        new_parent = (
            np.full(len(idx_alive), -1, dtype=np.int64)
            if li == 0
            else keep_prev[lv.parent_idx[idx_alive]]
        )
        new_tree.levels.append(Level(lv.node_id[idx_alive], new_parent, new_cents))
        remap = np.full(len(lv.node_id), -1, dtype=np.int64)
        remap[idx_alive] = np.arange(len(idx_alive))
        keep_prev = remap
    return new_tree


def _prune_childless(tree: CentroidTree) -> CentroidTree:
    """Drop internal nodes with no children (bottom-up cascade), preserving node
    ids and leaf set — the structural half of the reference's ``prune()``
    (/root/reference/src/lmw/EMTree.h:273-290)."""
    keep_masks = [np.ones(len(lv.node_id), dtype=bool) for lv in tree.levels]
    for li in range(tree.depth - 2, -1, -1):
        has_child = np.zeros(len(tree.levels[li].node_id), dtype=bool)
        child_lv = tree.levels[li + 1]
        has_child[child_lv.parent_idx[keep_masks[li + 1]]] = True
        keep_masks[li] = has_child
    new_tree = CentroidTree(order=tree.order)
    remap: np.ndarray | None = None
    for li, lv in enumerate(tree.levels):
        keep = keep_masks[li]
        idx = np.where(keep)[0]
        parent = (
            np.full(len(idx), -1, dtype=np.int64)
            if li == 0
            else remap[lv.parent_idx[idx]]
        )
        new_tree.levels.append(Level(lv.node_id[idx], parent, lv.centroid[idx]))
        remap = np.full(len(lv.node_id), -1, dtype=np.int64)
        remap[idx] = np.arange(len(idx))
    return new_tree


def rearrange_internal(tree: CentroidTree) -> CentroidTree:
    """Re-home internal subtrees by nearest descent — the reference's
    ``EMTree::rearrangeInternal`` (/root/reference/src/lmw/EMTree.h:148-158:
    per depth, remove every (key, child-subtree) pair and re-insert it via
    ``pushDownNoUpdateInternal`` EMTree.h:327-334,360-368 — greedy
    nearest-child descent through the CURRENT upper levels — then prune).

    Flat-level re-expression: processing levels top-down, every node of level
    li ≥ 1 descends the levels above it (exactly the ``descend`` kernel on a
    tree truncated at level li-1) and re-attaches to the reached parent;
    childless internal nodes are pruned before the next level is processed.
    No prototype updates here — the caller's rebuild pass recomputes means
    (EMTree.h:164-171), matching the reference's NoUpdate semantics. Returns a
    new tree; node ids are preserved.
    """
    current = tree
    for li in range(1, current.depth):
        if li == 1 and len(current.levels[0].node_id) <= 1:
            continue  # single root child: nothing to re-home at this level
        upper = CentroidTree(order=current.order)
        upper.levels = current.levels[:li]
        new_parent, _dists = descend(upper, current.levels[li].centroid)
        rebuilt = CentroidTree(order=current.order)
        rebuilt.levels = list(current.levels)
        rebuilt.levels[li] = Level(
            current.levels[li].node_id,
            new_parent.astype(np.int64),
            current.levels[li].centroid,
        )
        current = _prune_childless(rebuilt)
    return current


# ---------------------------------------------------------------------------
# k-means over packed bits (reference KMeans semantics)
# ---------------------------------------------------------------------------


def dsquared_seed(
    sigs: np.ndarray, k: int, rng: np.random.Generator
) -> np.ndarray:
    """k-means++ D² seeding (reference DSquaredSeeder::seed,
    /root/reference/src/lmw/DSquaredSeeder.h:30-105): first seed uniform, each
    further seed drawn with probability ∝ squared Hamming distance to the
    nearest already-chosen seed, with one candidate per round (the reference's
    ``numLocalTries=1`` hack, DSquaredSeeder.h:42-43 — no argmin over tries).

    Intentional divergence from the reference: its chooseSmartCenters feeds the
    distance functor's RAW output into ``closestDistSq`` without squaring, so for
    the bit pipeline its sampling weights are ∝ d (plain Hamming). This
    implementation uses the standard k-means++ ∝ d² weighting instead (Arthur &
    Vassilvitskii 2007) — structure (first-uniform, single candidate, running
    min) matches the reference; the weight exponent deliberately does not.
    Returns (k', W) uint64 centroids."""
    n = sigs.shape[0]
    k = min(k, n)
    chosen = [int(rng.integers(0, n))]
    d2 = hamming_cdist(sigs, sigs[chosen[0]][None]).ravel().astype(np.float64) ** 2
    for _ in range(1, k):
        total = d2.sum()
        if total <= 0:  # all remaining points coincide with a seed
            idx = int(rng.integers(0, n))
        else:
            idx = int(rng.choice(n, p=d2 / total))
        chosen.append(idx)
        nd = hamming_cdist(sigs, sigs[idx][None]).ravel().astype(np.float64) ** 2
        np.minimum(d2, nd, out=d2)
    return sigs[np.array(chosen)].copy()


def kmeans_bits(
    sigs: np.ndarray,
    k: int,
    max_iters: int,
    rng: np.random.Generator,
    seeder: str = "random",
    enforce_num_clusters: bool = False,
) -> tuple[np.ndarray, np.ndarray]:
    """Lloyd's k-means with Hamming distance + majority prototypes.

    Seeding: ``"random"`` = random shuffle, first k rows (RandomSeeder.h:23-41,
    the reference's bit-pipeline default, ExperimentTypedefs.h:26); ``"dsquared"``
    = k-means++ D² (``dsquared_seed``). max_iters semantics match the reference
    (KMeans.h:230-236): 0 → seed + single assignment, no mean updates; n → at
    most n update rounds, stopping early when assignments are unchanged.
    Returns (centroids (k', W) uint64, assign (N,)).

    ``enforce_num_clusters`` re-expresses ``KMeans::setEnforceNumClusters``
    (/root/reference/src/lmw/KMeans.h:74-94): guarantee that all k clusters end
    non-empty. Intentional divergence on mechanism: the reference's
    finalizeClusters "random shuffle" has a degenerate stride (step =
    shuffled.size(), so every row lands in cluster 0 and the random labels are
    then overwritten by vectorsToNearestCentroid anyway — effectively just one
    extra Lloyd round). We implement the documented intent instead: each empty
    cluster is re-seeded with a random data row (deterministic rng), followed
    by reassign + mean update, repeated until k clusters are occupied (bounded;
    can only fall short when the data has fewer than k distinct rows).
    """
    n = sigs.shape[0]
    k = min(k, n)
    if seeder == "dsquared":
        centroids = dsquared_seed(sigs, k, rng)
    else:
        perm = rng.permutation(n)
        centroids = sigs[perm[:k]].copy()

    def update(assign: np.ndarray, centroids: np.ndarray) -> np.ndarray:
        new_centroids = centroids.copy()
        for c in range(k):
            members = sigs[assign == c]
            if len(members):
                counts = unpack_bits(members).sum(axis=0, dtype=np.int64)
                new_centroids[c] = majority_from_counts(counts, len(members))
        return new_centroids

    assign, _ = hamming_argmin(sigs, centroids)
    for _ in range(max_iters):
        new_centroids = update(assign, centroids)
        new_assign, _ = hamming_argmin(sigs, new_centroids)
        centroids = new_centroids
        if (new_assign == assign).all():
            assign = new_assign
            break
        assign = new_assign
    if enforce_num_clusters:
        # Quality rounds: re-seed each empty cluster from a data row DISTINCT
        # from every current centroid (a row equal to one can never win the
        # first-wins argmin, so it would leave the cluster empty again), then
        # reassign + mean-update. The mean update can re-empty clusters, so
        # this is best-effort; the repair step below is the guarantee.
        for _ in range(8):
            occupied = np.unique(assign)
            if len(occupied) == k:
                break
            empty = np.setdiff1d(np.arange(k), occupied)
            picks = _distinct_unused_rows(sigs, centroids, len(empty), rng)
            if not len(picks):
                break  # fewer distinct rows than k: shortfall is inherent
            centroids[empty[: len(picks)]] = sigs[picks]
            assign, _ = hamming_argmin(sigs, centroids)
            centroids = update(assign, centroids)
            assign, _ = hamming_argmin(sigs, centroids)
        if len(np.unique(assign)) < k:
            centroids, assign = _occupancy_repair(sigs, centroids, assign, k, rng)
    return centroids, assign


def _distinct_unused_rows(
    sigs: np.ndarray, centroids: np.ndarray, want: int, rng: np.random.Generator
) -> np.ndarray:
    """Up to ``want`` row indices whose signatures differ from every current
    centroid and from each other, in rng-permuted order."""
    taken = {c.tobytes() for c in centroids}
    picks: list[int] = []
    for idx in rng.permutation(sigs.shape[0]):
        key = sigs[idx].tobytes()
        if key in taken:
            continue
        taken.add(key)
        picks.append(int(idx))
        if len(picks) == want:
            break
    return np.array(picks, dtype=np.int64)


def _occupancy_repair(
    sigs: np.ndarray,
    centroids: np.ndarray,
    assign: np.ndarray,
    k: int,
    rng: np.random.Generator,
) -> tuple[np.ndarray, np.ndarray]:
    """Guaranteed k-occupancy finisher for ``enforce_num_clusters``: make every
    centroid a DISTINCT data row, then one assignment pass (no mean update).

    Rows assigned to different clusters are pairwise-distinct vectors (equal
    rows always share a first-wins argmin), so taking each occupied cluster's
    closest member as its centroid and distinct unused rows for the empties
    yields k pairwise-distinct data-row centroids; each then uniquely wins its
    own row at distance 0 — exactly k occupied clusters whenever the data has
    ≥ k distinct rows (the only case a shortfall is possible at all)."""
    occupied = np.unique(assign)
    new_cents = centroids.copy()
    for c in occupied:
        members = np.where(assign == c)[0]
        d = hamming_cdist(sigs[members], centroids[c][None]).ravel()
        new_cents[c] = sigs[members[int(d.argmin())]]
    empty = np.setdiff1d(np.arange(k), occupied)
    picks = _distinct_unused_rows(sigs, new_cents[occupied], len(empty), rng)
    new_cents[empty[: len(picks)]] = sigs[picks]
    assign, _ = hamming_argmin(sigs, new_cents)
    return new_cents, assign


def tsvq_init(
    sample: np.ndarray,
    order: int,
    depth: int,
    max_iters: int,
    seed: int,
) -> CentroidTree:
    """Recursive m-way TSVQ over a driver-held sample → initial CentroidTree.

    Mirrors the sample-then-refine recipe (TSVQ on a sample seeds the EM-tree,
    /root/reference/src/StreamingEMTreeExperiments.h:28-41,
    /root/reference/src/JournalPaperExperiments.h:548-579). Deterministic via a
    single seeded RNG consumed in recursion order. Empty branches are dropped.
    """
    rng = np.random.default_rng(seed)
    tree = CentroidTree(order=order)
    next_id = [0]

    frontier = [(sample, -1)]  # (member rows, parent new-index)
    for _li in range(depth):
        node_ids, parent_idx, cents, next_frontier = [], [], [], []
        for slot, (members, parent) in enumerate(frontier):
            del slot
            centroids, assign = kmeans_bits(members, order, max_iters, rng)
            for c in range(len(centroids)):
                sub = members[assign == c]
                if len(sub) == 0:
                    continue  # prune empty at init
                node_ids.append(next_id[0])
                next_id[0] += 1
                parent_idx.append(parent)
                cents.append(centroids[c])
                next_frontier.append((sub, len(node_ids) - 1))
        tree.levels.append(
            Level(
                np.array(node_ids, dtype=np.int64),
                np.array(parent_idx, dtype=np.int64),
                np.array(cents, dtype=np.uint64),
            )
        )
        frontier = next_frontier
    return tree


def em_iterations_numpy(
    tree: CentroidTree, sigs: np.ndarray, iters: int
) -> CentroidTree:
    """Reference-shaped streaming EM loop, all in NumPy (oracle / small-data path):
    each iteration = full accumulate pass → update (leaf majority + bottom-up
    rollup) → prune (StreamingEMTreeExperiments.h:125-137)."""
    for _ in range(iters):
        sums, counts, sse = accumulate_leaves(tree, sigs)
        del sse
        tree = update_tree(tree, sums, counts)
    return tree
