"""K-tree: online height-balanced m-way tree over bit signatures.

Re-expression of the reference's K-tree (entry point B, ClueWeb scale:
/root/reference/src/JournalPaperExperiments.h:449-614; structure
/root/reference/src/lmw/KTree.h):

- ``add`` descends by nearest key to a leaf (KTree.h:122-131,306-352); leaf
  overflow (size ≥ m) triggers a 2-means split that propagates upward, a root
  split growing the tree by one level (KTree.h:357-448, root case 122-131).
- Prototype updates along the insert path are DELAYED every ``update_delay``
  inserts (KTree.h:346-349; delay 1000 in the ClueWeb runs,
  JournalPaperExperiments.h:464-472) — we accumulate per-node (bit_sums, count)
  and refresh path keys on the delay boundary, the same trade.
- ``rearrange`` pulls all vectors and re-inserts them (KTree.h:100-109).

Per-insert tree mutation is inherently sequential — NOT Spark-shaped — so, as the
reference itself does for web scale (sample-seeded hybrid,
JournalPaperExperiments.h:548-614), the K-tree runs driver-side over a bounded
sample and its centroid tree seeds the distributed machinery: ``ktree_fit``
converts the built tree to a ``CentroidTree`` (K-tree is height-balanced, so all
leaves sit at one depth) and hands off to the broadcast-descend / grouped-agg
EM iterations and assignment passes in operators/emtree.py.

Distance/prototype algebra is shared with the EM-tree: Hamming over packed
uint64 words, majority-vote prototypes with the strict ``> count/2`` tie rule
(/root/reference/src/lmw/StreamingEMTree.h:280-284).
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import DataFrame

from lmw_tree_spark.config import PipelineConfig
from lmw_tree_spark.functions.bitops import (
    hamming_argmin,
    majority_from_counts,
    unpack_bits,
)
from lmw_tree_spark.operators.emtree import FitResult, sample_signatures
from lmw_tree_spark.operators.tree import CentroidTree, Level, kmeans_bits


@dataclass
class _KNode:
    leaf: bool
    keys: list = field(default_factory=list)       # packed centroid per child
    children: list = field(default_factory=list)   # _KNode per key (internal)
    data: list = field(default_factory=list)       # row indices (leaf)
    bit_sums: np.ndarray | None = None             # subtree accumulator (B,)
    count: int = 0


class KTree:
    """Online K-tree of order m over packed bit signatures (driver-side)."""

    def __init__(self, order: int, seed: int = 42, update_delay: int = 1000):
        if order < 4:
            raise ValueError("order must be ≥ 4 (2-means splits need headroom)")
        self.order = order
        self.update_delay = update_delay
        self.rng = np.random.default_rng(seed)
        self.root: _KNode | None = None
        self.depth = 0
        self._sigs: list[np.ndarray] = []   # packed rows in insert order
        self._bits: list[np.ndarray] = []   # unpacked rows
        self._inserts = 0

    # -- public ------------------------------------------------------------

    def add(self, packed: np.ndarray) -> None:
        """Insert one packed signature (W,) uint64 (KTree::add)."""
        idx = len(self._sigs)
        bits = unpack_bits(packed[None])[0].astype(np.int64)
        self._sigs.append(packed)
        self._bits.append(bits)
        self._inserts += 1
        if self.root is None:
            self.root = _KNode(leaf=True)
            self.depth = 1
        path = self._descend_path(packed)
        leaf = path[-1][0]
        leaf.data.append(idx)
        refresh = (self._inserts % self.update_delay) == 0
        for node, _child in path:
            if node.bit_sums is None:
                node.bit_sums = np.zeros(len(bits), dtype=np.int64)
            node.bit_sums += bits
            node.count += 1
        if refresh:
            self._refresh_path_keys(path)
        if len(leaf.data) >= self.order:
            self._split_leaf(path)

    def add_all(self, sigs: np.ndarray) -> None:
        for row in np.asarray(sigs, dtype=np.uint64):
            self.add(row)

    def rearrange(self) -> None:
        """Pull every vector out of the leaves and re-insert through the EXISTING
        tree (KTree::rearrange, KTree.h:100-109) — keys survive, accumulators and
        memberships rebuild, so the second pass tightens assignments that drifted
        while means were moving during the first."""
        sigs = np.array(self._sigs, dtype=np.uint64)

        def clear(n: _KNode) -> None:
            n.bit_sums, n.count = None, 0
            if n.leaf:
                n.data = []
            else:
                for c in n.children:
                    clear(c)

        clear(self.root)
        self._sigs, self._bits, self._inserts = [], [], 0
        self.add_all(sigs)

    @property
    def n_objects(self) -> int:
        return len(self._sigs)

    def leaf_sizes(self) -> list[int]:
        out: list[int] = []

        def walk(n: _KNode) -> None:
            if n.leaf:
                out.append(len(n.data))
            else:
                for c in n.children:
                    walk(c)

        walk(self.root)
        return out

    def leaf_depths(self) -> set[int]:
        out: set[int] = set()

        def walk(n: _KNode, d: int) -> None:
            if n.leaf:
                out.add(d)
            else:
                for c in n.children:
                    walk(c, d + 1)

        walk(self.root, 1)
        return out

    def to_centroid_tree(self) -> CentroidTree:
        """Flatten to the broadcastable per-level form (keys from subtree
        accumulators). K-tree grows at the root, so all leaves share one depth."""
        tree = CentroidTree(order=self.order)
        if self.root.leaf:  # never split: single-cluster degenerate tree
            tree.levels.append(
                Level(
                    np.zeros(1, dtype=np.int64),
                    np.full(1, -1, dtype=np.int64),
                    majority_from_counts(self.root.bit_sums, self.root.count)[None],
                )
            )
            return tree
        next_id = 0
        frontier: list[_KNode] = [self.root]
        while frontier and not frontier[0].leaf:
            node_ids, cents = [], []
            nxt: list[_KNode] = []
            for node in frontier:
                for child in node.children:
                    if child.count == 0:
                        continue
                    node_ids.append(next_id)
                    next_id += 1
                    cents.append(majority_from_counts(child.bit_sums, child.count))
                    nxt.append(child)
            tree.levels.append(
                Level(
                    np.array(node_ids, dtype=np.int64),
                    np.empty(len(node_ids), dtype=np.int64),
                    np.array(cents, dtype=np.uint64),
                )
            )
            frontier = nxt
        self._fill_parent_idx(tree)  # children walked in the same order
        return tree

    def _fill_parent_idx(self, tree: CentroidTree) -> None:
        counters = [0] * len(tree.levels)

        def walk(node: _KNode, level: int, parent_new_idx: int) -> None:
            if node.leaf:
                return
            for child in node.children:
                if child.count == 0:
                    continue
                my_idx = counters[level]
                counters[level] += 1
                tree.levels[level].parent_idx[my_idx] = parent_new_idx
                walk(child, level + 1, my_idx)

        walk(self.root, 0, -1)

    # -- internals ----------------------------------------------------------

    def _descend_path(self, packed: np.ndarray) -> list[tuple[_KNode, int]]:
        """Root→leaf path as (node, child_slot); leaf entry has slot -1."""
        path: list[tuple[_KNode, int]] = []
        node = self.root
        while not node.leaf:
            keys = np.array(node.keys, dtype=np.uint64)
            j, _ = hamming_argmin(packed[None], keys)
            j = int(j[0])
            path.append((node, j))
            node = node.children[j]
        path.append((node, -1))
        return path

    def _refresh_path_keys(self, path: list[tuple[_KNode, int]]) -> None:
        """Delayed prototype update: refresh each path node's key in its parent
        from the subtree accumulator (KTree.h:346-349)."""
        for parent, slot in path[:-1]:
            child = parent.children[slot]
            if child.count:
                parent.keys[slot] = majority_from_counts(child.bit_sums, child.count)

    def _node_accumulate(self, node: _KNode) -> None:
        if node.leaf:
            rows = [self._bits[i] for i in node.data]
            node.bit_sums = np.sum(rows, axis=0, dtype=np.int64) if rows else None
            node.count = len(rows)
        else:
            live = [c.bit_sums for c in node.children if c.bit_sums is not None]
            node.bit_sums = np.sum(live, axis=0) if live else None
            node.count = sum(c.count for c in node.children)

    def _split_leaf(self, path: list[tuple[_KNode, int]]) -> None:
        """Leaf overflow → 2-means split; propagate internal overflows upward
        (KTree.h:357-448)."""
        leaf = path[-1][0]
        sigs = np.array([self._sigs[i] for i in leaf.data], dtype=np.uint64)
        cents, assign = kmeans_bits(sigs, 2, 10, self.rng)
        if len(np.unique(assign)) < 2:
            return  # degenerate (all identical) — keep oversized leaf
        halves = []
        for c in range(2):
            nn = _KNode(leaf=True, data=[leaf.data[i] for i in np.where(assign == c)[0]])
            self._node_accumulate(nn)
            halves.append(nn)
        self._replace_in_parent(path[:-1], leaf, halves)

    def _replace_in_parent(
        self,
        upper: list[tuple[_KNode, int]],
        old: _KNode,
        new_nodes: list[_KNode],
        fallback_keys: list[np.ndarray] | None = None,
    ) -> None:
        # empty fragments (possible mid-rearrange) keep the split centroid as key
        keys = [
            majority_from_counts(n.bit_sums, n.count)
            if n.bit_sums is not None
            else fallback_keys[i]
            for i, n in enumerate(new_nodes)
        ]
        if not upper:
            # root split: new root over the fragments (tree grows one level)
            root = _KNode(leaf=False, keys=keys, children=new_nodes)
            self._node_accumulate(root)
            self.root = root
            self.depth += 1
            return
        parent, slot = upper[-1]
        parent.children[slot : slot + 1] = new_nodes
        parent.keys[slot : slot + 1] = keys
        if len(parent.children) > self.order:
            self._split_internal(upper)

    def _split_internal(self, upper: list[tuple[_KNode, int]]) -> None:
        node = upper[-1][0]
        keys = np.array(node.keys, dtype=np.uint64)
        cents, assign = kmeans_bits(keys, 2, 10, self.rng)
        if len(np.unique(assign)) < 2:
            return
        halves = []
        for c in range(2):
            members = np.where(assign == c)[0]
            nn = _KNode(
                leaf=False,
                keys=[node.keys[i] for i in members],
                children=[node.children[i] for i in members],
            )
            self._node_accumulate(nn)
            halves.append(nn)
        self._replace_in_parent(upper[:-1], node, halves, fallback_keys=list(cents))


def ktree_fit(
    sigs: DataFrame,
    cfg: PipelineConfig,
    order: int | None = None,
    update_delay: int = 1000,
    rearrange: bool = True,
) -> FitResult:
    """K-tree hybrid fit: online K-tree over a driver-held sample (the reference's
    ClueWeb recipe — build on a sample, then batch passes over everything,
    JournalPaperExperiments.h:548-614) → CentroidTree seed → the distributed EM
    iterations + assignment machinery in operators/emtree.py take over."""
    from lmw_tree_spark.operators import emtree

    sample = sample_signatures(sigs, cfg.tsvq_sample, cfg.seed)
    kt = KTree(order or cfg.tree_order, seed=cfg.seed, update_delay=update_delay)
    kt.add_all(sample)
    if rearrange:
        kt.rearrange()
    return emtree._em_passes(sigs, kt.to_centroid_tree(), cfg)
