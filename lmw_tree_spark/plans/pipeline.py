"""End-to-end dedup + cluster pipeline (the flagship job).

    images (input_hint schema)
      → signatures        (decode once; SimHash/sig/MinHash; bytes dropped)
      → candidate edges   (MinHash bands ∪ phash/simhash pigeonhole ∪ L-gram substring)
      → verified pairs    (JVM-side Hamming / MinHash-agreement thresholds)
      → dup groups        (connected components, min-label propagation)
      → EM-tree fit       (TSVQ-seeded, distributed EM iterations)
      → assignments       (leaf cluster_id + distance + dup_group per image)

Each stage checkpoints (parquet) with per-file row counts in ``_metrics.json`` and
is skipped on resume when complete. The tree itself is checkpointed as rows
(FIXTURES.md §4 schema) so a restart continues from the fitted tree.

With a checkpoint dir, candidate generation and verify run in
``max(1, rows // ROWS_PER_SLICE)`` hash slices (``rows`` from the committed
``signatures`` snapshot): edges per ``pmod(xxhash64(bucket), n)`` slice of the
materialized buckets (every ``edges_from_buckets`` step is keyed by bucket, so
this partitions the work exactly), one distinct pass, then verify per
``pmod(xxhash64(src, dst), n)`` slice of the edge list. Each slice commits its
own snapshot, so a killed run resumes at slice granularity, and each
intermediate is deleted once consumed: peak scratch is one slice's shuffle.
Without a checkpoint dir the run is never sliced.
"""

from __future__ import annotations

import gc
from dataclasses import dataclass
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lmw_tree_spark.config import PipelineConfig
from lmw_tree_spark.operators import emtree, lsh
from lmw_tree_spark.operators.ccomp import connected_components
from lmw_tree_spark.operators.signature_stage import extract_signatures
from lmw_tree_spark.operators.tree import CentroidTree
from lmw_tree_spark.plans.checkpoint import Checkpointer

TREE_STAGE_SCHEMA = "level int, node_id long, parent_id long, centroid array<long>"

# signature rows per dedup slice of a checkpointed run (module docstring)
ROWS_PER_SLICE = 2_000_000


@dataclass
class PipelineResult:
    signatures: DataFrame
    dup_groups: DataFrame      # (image_id, dup_group)
    assignments: DataFrame     # (image_id, cluster_id, distance, dup_group)
    cluster_stats: DataFrame   # (cluster_id, n_objects, rmse) — ClusterStats parity
    tree: CentroidTree
    metrics: list[dict]


def run_pipeline(
    spark: SparkSession,
    images: DataFrame,
    cfg: PipelineConfig,
    checkpoint_dir: str | None = None,
) -> PipelineResult:
    ckpt = Checkpointer(spark, checkpoint_dir) if checkpoint_dir else None

    def staged(name: str, build, sig_col: str | None = None) -> DataFrame:
        if ckpt is None:
            return build()
        out = ckpt.stage(name, build, sig_col)
        # checkpointed runs are the bounded-scratch deployment shape: the
        # stage (or slice) just materialized to parquet, so its shuffle files
        # are dead weight — force a driver GC so ContextCleaner deletes them
        # before the next one starts (peak local-disk = max-over-stages, not
        # sum; the 8M-image probe only completes this way — BASELINE.md).
        # py4j proxies sit in reference cycles, so the JVM objects they pin
        # (connected_components' localCheckpoint RDDs among them) are only
        # released to the JVM GC by a Python cyclic collection first.
        gc.collect()
        try:
            spark.sparkContext._jvm.System.gc()
        except AttributeError:
            # Spark Connect sessions have no sparkContext/_jvm gateway; the
            # eager-cleanup nudge is an optimization, so degrade gracefully
            pass
        return out

    sigs = staged("signatures", lambda: extract_signatures(images, cfg), sig_col="sig")
    if ckpt is None:
        # single-action reuse without a durable checkpoint
        sigs = sigs.persist()

    n_slices = (
        1 if ckpt is None
        else max(1, ckpt.metrics("signatures")["rows"] // ROWS_PER_SLICE)
    )

    buckets = None  # the unsliced build's bucket table, once built

    def build_verified() -> DataFrame:
        nonlocal buckets
        if n_slices > 1:
            edges = _sliced_verified(staged, ckpt, sigs, cfg, n_slices)
        else:
            buckets = lsh.candidate_buckets(sigs, cfg)
            edges = lsh.verify_edges(
                lsh.edges_from_buckets(buckets, cfg.bucket_pair_cap, cfg.chain_salts),
                sigs,
                cfg,
            ).where("is_dup")
        if cfg.suffix_dup_min_len is not None:
            # exact suffix-array substring pass on captions (operators/suffix.py):
            # pairs sharing ≥ suffix_dup_min_len chars are dup edges too
            from lmw_tree_spark.operators.suffix import substring_pairs

            sub = substring_pairs(
                sigs, "image_id", "caption", min_len=cfg.suffix_dup_min_len
            ).select(
                "src",
                "dst",
                F.lit(None).cast("long").alias("phash_dist"),
                F.lit(None).cast("long").alias("simhash_dist"),
                F.lit(None).cast("double").alias("caption_sim"),
                F.lit(True).alias("is_dup"),
            )
            edges = edges.unionByName(sub).dropDuplicates(["src", "dst"])
        return edges

    verified = staged("verified_pairs", build_verified)
    if n_slices > 1:
        ckpt.remove(
            "candidate_edges", *(f"verified_pairs_{s}" for s in range(n_slices))
        )
    if ckpt is None:
        # CC's label loop starts from these edges; don't recompute the whole
        # candidate-generation DAG when materializing them
        verified = verified.persist()
    def build_groups() -> DataFrame:
        edges = verified
        if cfg.truss_k is not None:
            # optional precision hardening: peel uncorroborated edges (k-truss,
            # operators/graph.py) so a single spurious verified pair cannot
            # fuse two dup groups in the closure below
            from lmw_tree_spark.operators.graph import ktruss

            edges = ktruss(verified.select("src", "dst"), k=cfg.truss_k)
        return connected_components(edges, vertices=sigs)

    groups = staged("dup_groups", build_groups)
    # the groups no longer read the edges: drop the persisted (bucket, salt)
    # aggregation and, in a fused run, the verified edges (the groups' labels
    # are checkpointed); a later run over the same input must not be served
    # from either
    if buckets is not None:
        lsh.release_salt_groups(buckets, cfg.chain_salts)
    if ckpt is None:
        verified.unpersist()

    # EM-tree fit: resume from a checkpointed tree when present
    metrics: list[dict] = []
    if ckpt is not None and ckpt.exists("tree"):
        rows = ckpt.read("tree").collect()
        tree = CentroidTree.from_rows(
            [(r["level"], r["node_id"], r["parent_id"], r["centroid"]) for r in rows],
            order=cfg.tree_order,
        )
    else:
        fit = emtree.em_tree_fit(sigs, cfg)
        tree, metrics = fit.tree, fit.metrics
        if ckpt is not None:
            tree_df = spark.createDataFrame(
                [(lvl, nid, pid, words) for lvl, nid, pid, words in tree.to_rows()],
                TREE_STAGE_SCHEMA,
            )
            ckpt.write("tree", tree_df)

    assignments = staged(
        "assignments",
        lambda: emtree.assign(sigs, tree).join(groups, "image_id", "left").select(
            "image_id",
            "cluster_id",
            "distance",
            F.coalesce("dup_group", "image_id").alias("dup_group"),
        ),
    )
    # the reference's final pass emits ClusterWriter AND ClusterStats outputs
    # (/root/reference/src/StreamingEMTreeExperiments.h:66-92); assignments above
    # are the former, this per-cluster stats table is the latter
    stats = staged("cluster_stats", lambda: emtree.cluster_stats(assignments))
    return PipelineResult(sigs, groups, assignments, stats, tree, metrics)


def _sliced_verified(staged, ckpt, sigs, cfg, n: int) -> DataFrame:
    """Candidate generation and verify in ``n`` committed hash slices (module
    docstring); returns the union of the verified slices. ``staged`` builds or
    reuses one snapshot, so on resume only the missing slices run."""

    def in_slice(s: int, *cols: str):
        return F.pmod(F.xxhash64(*cols), F.lit(n)) == s

    def bucket_edges(buckets: DataFrame, s: int) -> DataFrame:
        sl = buckets.where(in_slice(s, "bucket"))
        out = staged(
            f"bucket_edges_{s}",
            lambda: lsh.edges_from_buckets(sl, cfg.bucket_pair_cap, cfg.chain_salts),
        )
        # the slice's persisted (bucket, salt) aggregation is dead weight once
        # its edges are on disk
        lsh.release_salt_groups(sl, cfg.chain_salts)
        return out

    def distinct_edges() -> DataFrame:
        buckets = staged("buckets", lambda: lsh.candidate_buckets(sigs, cfg))
        parts = [bucket_edges(buckets, s) for s in range(n)]
        return reduce(DataFrame.unionByName, parts).dropDuplicates(["src", "dst"])

    edges = staged("candidate_edges", distinct_edges)
    ckpt.remove("buckets", *(f"bucket_edges_{s}" for s in range(n)))
    parts = [
        staged(
            f"verified_pairs_{s}",
            lambda: lsh.verify_edges(
                edges.where(in_slice(s, "src", "dst")), sigs, cfg
            ).where("is_dup"),
        )
        for s in range(n)
    ]
    return reduce(DataFrame.unionByName, parts)
