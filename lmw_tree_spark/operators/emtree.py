"""Streaming EM-tree as Spark dataflow — the flagship operator.

Re-expression of the reference's flagship pipeline
(/root/reference/src/StreamingEMTreeExperiments.h:115-141):

    sample → TSVQ init (driver, NumPy — the sample is tiny, ref uses 2M of 733M)
    loop em_iters times:
        broadcast centroid tree (small) to executors
        mapInArrow: per partition, descend tree + accumulate per-leaf
            (bit_sums, count, sse)  ← map-side partial aggregation; one blob
            per partition (touched leaves only), NEVER a row per input row
        merge the blobs (on the driver, or first in a groupBy(merge_key) stage
            above 64 partitions) → (L, B) totals
        driver: finalize majority prototypes, bottom-up rollup, prune empties
    final pass: mapInArrow → per-level assignments (image_id, level, cluster_id,
        distance) — the reference's ClusterWriter output
        (/root/reference/src/lmw/InsertVisitor.h:25-56) as a DataFrame.

``em_tree_fit(sigs, cfg, n_batches)`` is the one fit driver: ``n_batches=1`` is
the loop above, ``n_batches > 1`` the reference's mini-batch mode
(StreamingEMTreeExperiments.h:143-189), which updates the centroids after every
hash slice of each pass. Both the insert pass and the labeling pass read the
packed ``sig`` column through one zero-copy Arrow reader
(``bitops.arrow_u64_matrix``) and descend with ``tree.descend``.

Scale notes (100 TB / 10^12 rows):
- The only data-sized shuffles are the partial-accumulator groupBy — volume is
  O(partitions x leaves x sig_bits/8), independent of row count — and none at all in
  the assignment pass (pure map).
- The tree is the broadcast-dimension side: ≤ ~51 MB at 100k leaves x 4096 bits.
- The reference's per-leaf mutexes (/root/reference/src/lmw/StreamingEMTree.h:226)
  become lock-free associative aggregation; its bounded in-flight chunks
  (StreamingEMTree.h:452-455) become Arrow maxRecordsPerBatch backpressure.

Flat k-means (/root/reference/src/GeneralExperiments.h:7-29 `sigKmeansCluster`) is the
depth-1 special case and is exposed as ``kmeans_fit`` on the same machinery.
"""

from __future__ import annotations

import pickle
import time
import zlib
from collections.abc import Iterator
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lmw_tree_spark.config import PipelineConfig
from lmw_tree_spark.functions.bitops import arrow_u64_matrix, longs_to_u64
from lmw_tree_spark.operators.tree import (
    CentroidTree,
    accumulate_leaves,
    descend,
    tsvq_init,
    update_tree,
)

ACC_SCHEMA = "payload binary"
KEYED_ACC_SCHEMA = "merge_key int, payload binary"
ASSIGN_SCHEMA = "image_id string, level int, cluster_id long, distance double"
LEAF_ASSIGN_SCHEMA = "image_id string, cluster_id long, distance double"


@dataclass
class FitResult:
    tree: CentroidTree
    metrics: list[dict] = field(default_factory=list)  # per-iteration rmse/counts


def sample_signatures(sigs: DataFrame, n: int, seed: int) -> np.ndarray:
    """Deterministic bounded sample of packed signatures for TSVQ seeding.

    orderBy(xxhash64) + limit compiles to TakeOrderedAndProject — a top-k, not a
    global sort — and is partition-count-independent, so the sample (and hence the
    whole clustering, given pinned seeds) is reproducible at any parallelism.
    """
    rows = (
        sigs.select("sig", F.xxhash64(F.col("image_id"), F.lit(seed)).alias("h"))
        .orderBy("h")
        .limit(n)
        .collect()
    )
    return longs_to_u64([r["sig"] for r in rows])


def _pack_acc(
    sums: np.ndarray, counts: np.ndarray, sse: np.ndarray, dtype
) -> bytes:
    """The accumulator blob of the partition pass and the merge step: touched
    leaf indices with their counts, SSE and bit sums (as ``dtype``), pickled
    and zlib(1)-compressed — per-leaf bit counts are small integers, so the
    high bytes are near-zero and compress 4-8x."""
    touched = np.where(counts > 0)[0]
    return zlib.compress(
        pickle.dumps(
            (
                touched.astype(np.int32),
                counts[touched],
                sse[touched],
                sums[touched].astype(dtype, copy=False),
            ),
            protocol=4,
        ),
        1,
    )


def _accumulate_pass(
    sigs: DataFrame,
    tree_bc,
    combine_threshold: int = 64,
    combine_keys: int = 32,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """One distributed insert pass → (bit_sums (L,B), counts (L,), sse (L,)).

    Two-level combine (the distributed ``gatherAccumulators``,
    /root/reference/src/lmw/StreamingEMTree.h:253-268): each partition reduces to
    ONE compact blob; when the input has more than ``combine_threshold``
    partitions, an intermediate ``groupBy(merge_key)`` stage — keyed by
    ``partition_id % combine_keys`` — merges partition blobs executor-side
    before the driver gather, so driver memory is O(combine_keys × leaves ×
    bits) at ANY partition count (10^5-10^6 partitions at 100 TB), never
    O(partitions × leaves). Below the threshold the direct gather skips the
    extra (tiny) shuffle.
    """

    def partial(batches) -> Iterator:
        """Accumulate across the WHOLE partition, yield ONE compact binary blob —
        the Spark analogue of the reference's per-thread accumulators merged at
        pass end (StreamingEMTree.h:221-237). Transfer volume is
        O(partitions x touched_leaves x bits), independent of row count: counts
        travel at the narrowest safe width (uint16 when the partition holds
        < 65536 rows), compressed (``_pack_acc``).

        Runs under ``mapInArrow``: the packed-signature matrix is a zero-copy
        view of the Arrow values buffer (``arrow_u64_matrix``) instead of
        pandas materializing one small ndarray object PER ROW — at 2M
        rows/iteration the object churn alone was a measurable slice of the
        insert pass.

        Batch views are BUFFERED and accumulated once per ~1M rows rather than
        once per ~10k-row Arrow batch: ``accumulate_leaves``'s pass B streams
        the whole (L, B) int64 sums array per CALL (~65 MB at the flagship
        2k-leaf shape), so per-batch calls re-streamed it ~100× per million
        rows — measured as the dominant term of the Spark insert pass once the
        descent kernel was cache-tuned. The vstack copy this buys is 512 B/row,
        ~200× cheaper than the sums traffic it replaces; peak buffer memory is
        min(partition, 1M rows) ≈ 512 MB worst case, bounded by the input
        partition size a 100 TB run already controls."""
        import pyarrow as pa
        from pyspark import TaskContext

        tree: CentroidTree = tree_bc.value
        totals = None
        n_rows = 0
        views: list[np.ndarray] = []
        buf_rows = 0
        flush_rows = 1 << 20

        def flush() -> None:
            nonlocal totals, views, buf_rows
            if not views:
                return
            s = views[0] if len(views) == 1 else np.vstack(views)
            totals = accumulate_leaves(tree, s, out=totals)
            views = []
            buf_rows = 0

        for rb in batches:
            if rb.num_rows == 0:
                continue
            n_rows += rb.num_rows
            views.append(arrow_u64_matrix(rb.column(0)))
            buf_rows += rb.num_rows
            if buf_rows >= flush_rows:
                flush()
        flush()
        if totals is None:
            return
        total_sums, total_counts, total_sse = totals
        dtype = np.uint16 if n_rows < (1 << 16) else np.uint32
        payload = _pack_acc(total_sums, total_counts, total_sse, dtype)
        ctx = TaskContext.get()
        key = (ctx.partitionId() if ctx is not None else 0) % combine_keys
        yield pa.RecordBatch.from_pydict(
            {
                "merge_key": pa.array([key], pa.int32()),
                "payload": pa.array([payload], pa.binary()),
            }
        )

    tree: CentroidTree = tree_bc.value
    n_leaves, n_bits = tree.n_leaves, tree.levels[-1].centroid.shape[1] * 64

    def _combine_blobs(payloads) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """Merge partition blobs into the full (L, B) totals.

        Decompress + deserialize + widen runs in a THREAD pool — zlib and the
        NumPy astype inner loop both release the GIL, and at the flagship
        shape each blob costs ~100 ms of that prep (measured: the serial loop
        was ~4 s of an 8.5 s iteration at 32 partitions, i.e. the single
        largest term once the executor kernel was cache-tuned). Only the
        scatter-adds stay serial (they all target the same output arrays);
        a fully-touched blob — the common case when every partition sees all
        leaves — adds with a plain ``+=`` instead of a fancy-index gather."""
        from concurrent.futures import ThreadPoolExecutor

        sums = np.zeros((n_leaves, n_bits), dtype=np.int64)
        counts = np.zeros(n_leaves, dtype=np.int64)
        sse = np.zeros(n_leaves, dtype=np.float64)
        payloads = list(payloads)

        def prep(blob):
            touched, cnt, ss, bsums = pickle.loads(zlib.decompress(blob))
            return touched, cnt, ss, bsums.astype(np.int64)

        if not payloads:
            return sums, counts, sse
        with ThreadPoolExecutor(max_workers=min(16, len(payloads))) as pool:
            for touched, cnt, ss, bsums in pool.map(prep, payloads):
                if len(touched) == n_leaves:
                    sums += bsums
                    counts += cnt
                    sse += ss
                else:
                    sums[touched] += bsums
                    counts[touched] += cnt
                    sse[touched] += ss
        return sums, counts, sse

    blob_df = sigs.select("sig").mapInArrow(partial, KEYED_ACC_SCHEMA)

    # getNumPartitions inspects the plan without running a job
    n_parts = sigs.rdd.getNumPartitions()
    if n_parts > combine_threshold:

        def merge(pdf: pd.DataFrame) -> pd.DataFrame:
            # int64 sums: merged counts can exceed uint32
            payload = _pack_acc(*_combine_blobs(pdf["payload"]), np.int64)
            return pd.DataFrame({"payload": [payload]})

        blob_df = blob_df.groupBy("merge_key").applyInPandas(merge, ACC_SCHEMA)
        pdf = blob_df.toPandas()  # ≤ combine_keys rows
    else:
        pdf = blob_df.select("payload").toPandas()  # ≤ n_parts rows

    return _combine_blobs(pdf["payload"])


def em_tree_fit(sigs: DataFrame, cfg: PipelineConfig, n_batches: int = 1) -> FitResult:
    """Fit the EM-tree: TSVQ-seeded init + cfg.em_iters distributed EM passes.

    ``n_batches == 1`` is the full-batch mode
    (/root/reference/src/StreamingEMTreeExperiments.h:115-141): one insert pass
    over all rows, then one centroid update. ``n_batches > 1`` is the
    reference's mini-batch mode (StreamingEMTreeExperiments.h:143-189): each
    pass slices the input into ``n_batches`` deterministic hash slices; after
    every slice the centroids are updated from the CUMULATIVE accumulators
    (cleared only at the end of a full pass), realigned to the pruned leaf set.
    Centroids improve mid-pass, so fewer full passes are needed — the trade
    the reference makes with batchSize=100000.

    ``metrics`` holds one entry per pass: ``rmse``, ``objects`` (rows
    inserted — the object-count conservation check), ``leaves``, per-level
    node counts ``levels`` and the pass's wall ``seconds``.
    """
    sample = sample_signatures(sigs, cfg.tsvq_sample, cfg.seed)
    tree = tsvq_init(sample, cfg.tree_order, cfg.tree_depth, cfg.tsvq_maxiters, cfg.seed)
    return _em_passes(sigs, tree, cfg, n_batches)


def _em_passes(
    sigs: DataFrame, tree: CentroidTree, cfg: PipelineConfig, n_batches: int = 1
) -> FitResult:
    """The EM passes of ``em_tree_fit`` from a given seed tree (``ktree_fit``
    seeds with a K-tree instead of TSVQ)."""
    spark = sigs.sparkSession
    result = FitResult(tree=tree)
    if n_batches > 1:
        slice_col = F.pmod(F.xxhash64("image_id", F.lit(cfg.seed + 1)), F.lit(n_batches))
        sliced = sigs.withColumn("_slice", slice_col)
        batches = [sliced.where(F.col("_slice") == b) for b in range(n_batches)]
    else:
        batches = [sigs]
    for it in range(cfg.em_iters):
        t0 = time.perf_counter()
        cum: list[np.ndarray] | None = None  # aligned to the CURRENT tree's leaves
        for batch in batches:
            bc = spark.sparkContext.broadcast(tree)
            sums, counts, sse = _accumulate_pass(batch, bc)
            bc.unpersist()
            if cum is None:
                cum = [sums, counts, sse]
            else:
                cum[0] += sums
                cum[1] += counts
                cum[2] += sse
            old_ids = tree.leaf_ids()
            tree = update_tree(tree, cum[0], cum[1])
            if n_batches > 1:
                # re-align cumulative rows to the (possibly pruned) new leaf
                # set; pruned leaves had zero cumulative count, so nothing is lost
                pos = {int(i): k for k, i in enumerate(old_ids)}
                take = np.array([pos[int(i)] for i in tree.leaf_ids()], dtype=np.int64)
                cum = [cum[0][take], cum[1][take], cum[2][take]]
        total = int(cum[1].sum())
        result.metrics.append(
            {
                "iteration": it,
                "rmse": float(np.sqrt(cum[2].sum() / max(total, 1))),
                "objects": total,
                "leaves": tree.n_leaves,
                "levels": [len(lv.node_id) for lv in tree.levels],
                "seconds": round(time.perf_counter() - t0, 3),
            }
        )
    result.tree = tree
    return result


def assign(sigs: DataFrame, tree: CentroidTree, per_level: bool = False) -> DataFrame:
    """Final labeling pass (reference `visit` + ClusterWriter): pure map, no shuffle.

    per_level=True emits one row per (row, level) like the reference's per-level CSVs;
    default emits leaf assignments only. Runs under ``mapInArrow`` and reads
    ``sig`` with the same zero-copy reader as the insert pass.
    """
    spark = sigs.sparkSession
    bc = spark.sparkContext.broadcast(tree)

    def run(batches) -> Iterator:
        import pyarrow as pa

        t: CentroidTree = bc.value
        # ancestor node_id at each level for every leaf, precomputed once per task
        anc = np.empty((t.n_leaves, t.depth), dtype=np.int64)
        cur = np.arange(t.n_leaves)
        for li in range(t.depth - 1, -1, -1):
            anc[:, li] = t.levels[li].node_id[cur]
            cur = t.levels[li].parent_idx[cur]
        for rb in batches:
            if rb.num_rows == 0:
                continue
            ids = rb.column(0)
            leaf_pos, dists = descend(t, arrow_u64_matrix(rb.column(1)))
            if per_level:
                n, d = rb.num_rows, t.depth
                yield pa.RecordBatch.from_arrays(
                    [
                        ids.take(np.repeat(np.arange(n), d)),
                        pa.array(np.tile(np.arange(1, d + 1, dtype=np.int32), n)),
                        pa.array(anc[leaf_pos].ravel()),
                        pa.array(dists.astype(np.float64).ravel()),
                    ],
                    names=["image_id", "level", "cluster_id", "distance"],
                )
            else:
                yield pa.RecordBatch.from_arrays(
                    [
                        ids,
                        pa.array(t.leaf_ids()[leaf_pos]),
                        pa.array(dists[:, -1].astype(np.float64)),
                    ],
                    names=["image_id", "cluster_id", "distance"],
                )

    schema = ASSIGN_SCHEMA if per_level else LEAF_ASSIGN_SCHEMA
    return sigs.select("image_id", "sig").mapInArrow(run, schema)


def cluster_stats(assignments: DataFrame) -> DataFrame:
    """Per-cluster stats table — the reference's ClusterStats CSV
    (/root/reference/src/lmw/ClusterVisitor.h:25-49): (cluster_id, count, rmse)."""
    return assignments.groupBy("cluster_id").agg(
        F.count("*").alias("n_objects"),
        F.sqrt(F.avg(F.col("distance") * F.col("distance"))).alias("rmse"),
    )


def kmeans_fit(sigs: DataFrame, k: int, iters: int, cfg: PipelineConfig) -> FitResult:
    """Flat k-means = depth-1 EM-tree over a random-sample seeding (sigKmeansCluster,
    /root/reference/src/GeneralExperiments.h:7-29)."""
    from dataclasses import replace

    flat = replace(
        cfg, tree_order=k, tree_depth=1, em_iters=iters, tsvq_sample=max(cfg.tsvq_sample, 4 * k)
    )
    return em_tree_fit(sigs, flat)
