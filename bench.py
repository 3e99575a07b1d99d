"""Benchmark harness: flagship dedup+cluster throughput, EM-iteration throughput
vs the reference's single-node number, signature-stage scaling, and headline
query timings.

Prints ONE JSON line:
  {"metric": "...", "value": <seconds>, "unit": "sec", "queries": {...}, "sf": ...,
   "throughput_images_per_sec": ..., "em_iter": {...}, "scaling": {...},
   "bpe_1024": {...}}

Every level follows CPUS ($SPARK_GRAFT_CPUS, default: the cores this process
may run on), so no level oversubscribes the machine.

- Flagship: synthetic image+caption table (scale from $SPARK_GRAFT_SF_DIR) →
  signatures → LSH dedup → connected components → EM-tree fit+assign, timed
  end-to-end at local[CPUS].
- EM-iteration throughput: distributed streaming-EM insert passes over
  $SPARK_GRAFT_EM_ROWS synthetic 4096-bit signatures at the reference's
  flagship geometry (m=10, depth=4, StreamingEMTreeExperiments.h:29-31), at
  local[CPUS]. The reference records ≈226k signatures/sec single-node
  (SVector.h:325-330); ``sigs_per_sec`` is the direct comparison.
- Scaling: the signature-extraction stage on identical input at local[1] and
  local[CPUS]; efficiency = (t_1 / t_CPUS) / CPUS, 1.0 being linear scaling.
- queries: per-query wall seconds of ``__spark_entry__.queries()`` — the
  functions the DuckDB oracles check — called with that module's
  ``BENCH_PARAMS`` production parameters.
- bpe_1024: ``q_bpe_train`` at 1024 merges over a 60k-word synthetic table.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
EM_ROWS = int(os.environ.get("SPARK_GRAFT_EM_ROWS", "2000000"))


def _sf() -> float:
    name = SF_DIR.rstrip("/").rsplit("/", 1)[-1]
    try:
        return float(name.replace("sf", ""))
    except ValueError:
        return 0.1


def bench_config():
    from lmw_tree_spark.config import PipelineConfig

    # reference-geometry signatures (4096-bit, StreamingEMTreeExperiments.h:50-52)
    # with a tree sized to the bench corpus (order 10 like the flagship, depth 3)
    return PipelineConfig(
        sig_bits=4096, tree_order=10, tree_depth=3, em_iters=2,
        tsvq_sample=4000, tsvq_maxiters=1,
    )


def run_flagship(
    master: str,
    shuffle_partitions: int,
    n_images: int,
    checkpoint_dir: str | None = None,
) -> dict:
    """One flagship job (``plans.pipeline.run_pipeline``) in a fresh Spark
    session: wall time from generation to counted assignments, then dup-pair
    recall/precision against the generator's planted truth (untimed).

    ``checkpoint_dir`` selects the bounded-scratch mode: every stage commits a
    snapshot, and from 2 × ``pipeline.ROWS_PER_SLICE`` images on, dedup runs
    in committed hash slices. Without it the job is one fused plan — faster at
    bench scale, and what bench.py times."""
    from lmw_tree_spark.plans.pipeline import run_pipeline
    from lmw_tree_spark.session import get_spark
    from lmw_tree_spark.sources.images import generate_images

    spark = get_spark(
        app_name=f"bench-{master}",
        master=master,
        shuffle_partitions=shuffle_partitions,
    )
    try:
        t0 = time.time()
        images = generate_images(spark, n_images, with_truth=True)
        res = run_pipeline(
            spark, images.drop("dup_group"), bench_config(), checkpoint_dir
        )
        assignments = res.assignments.persist()
        n_assigned = assignments.count()
        total = time.time() - t0

        # dup-pair recall/precision vs generator ground truth (north rule
        # >= 0.99) — evidenced at BENCH scale, not just the pytest config.
        # Outside the timed section, and computed DISTRIBUTED (within-group
        # self-joins on the group key — groups are tiny, <= 3 members, so the
        # joins are linear): the earlier driver-side pair-set version pulled
        # two n-row frames through toPandas and died at the 8M-image probe.
        from pyspark.sql import functions as F

        def pair_df(df, group_col):
            a, b = df.alias("a"), df.alias("b")
            return (
                a.join(
                    b,
                    (F.col(f"a.{group_col}") == F.col(f"b.{group_col}"))
                    & (F.col("a.image_id") < F.col("b.image_id")),
                )
                .select(
                    F.col("a.image_id").alias("src"),
                    F.col("b.image_id").alias("dst"),
                )
            )

        tp_df = pair_df(
            images.where("dup_group >= 0").select("image_id", "dup_group"),
            "dup_group",
        ).persist()
        pp_df = pair_df(assignments, "dup_group").persist()
        n_tp, n_pp = tp_df.count(), pp_df.count()
        n_hit = tp_df.join(pp_df, ["src", "dst"]).count()
        recall = n_hit / max(n_tp, 1)
        precision = n_hit / max(n_pp, 1)

        return {
            "t_total": round(total, 2),
            "rows": n_assigned,
            "leaves": res.tree.n_leaves,
            "dup_pair_recall": round(recall, 4),
            "dup_pair_precision": round(precision, 4),
            "n_true_pairs": n_tp,
            "checkpointed": checkpoint_dir is not None,
        }
    finally:
        spark.stop()


def run_em_iters(master: str, shuffle_partitions: int, n_rows: int, iters: int = 2) -> dict:
    """Distributed streaming-EM insert passes over synthetic 4096-bit signatures
    (reference flagship geometry m=10 depth=4), through ``em_tree_fit``.
    Returns per-iteration seconds."""
    from dataclasses import replace

    import numpy as np

    from lmw_tree_spark.config import DEFAULT
    from lmw_tree_spark.operators.emtree import em_tree_fit
    from lmw_tree_spark.session import get_spark

    spark = get_spark(
        app_name=f"em-{master}", master=master, shuffle_partitions=shuffle_partitions
    )
    try:
        n_parts = shuffle_partitions

        def gen(batches):
            import pandas as pd

            for pdf in batches:
                ids = pdf["id"].to_numpy()
                rng = np.random.default_rng(ids[0] if len(ids) else 0)
                sigs = rng.integers(0, 2**63, (len(ids), 64), dtype=np.int64)
                yield pd.DataFrame(
                    {"image_id": ids.astype(str), "sig": list(sigs)}
                )

        sigs = (
            spark.range(n_rows, numPartitions=n_parts)
            .mapInPandas(gen, "image_id string, sig array<long>")
            .persist()
        )
        sigs.count()

        fit = em_tree_fit(sigs, replace(DEFAULT, em_iters=iters))
        iter_secs = [round(m["seconds"], 2) for m in fit.metrics]
        best = min(iter_secs)
        return {
            "rows": n_rows,
            "leaves": fit.tree.n_leaves,
            "iter_secs": iter_secs,
            "sigs_per_sec": round(n_rows / best, 0),
        }
    finally:
        spark.stop()


def run_sig_stage(master: str, parts: int, n_images: int, trials: int = 3) -> dict:
    """Signature-extraction throughput over a pre-materialized images table
    (decode + DCT + hyperplane projection + MinHash — the UDF-heavy map stage).
    min-of-trials is reported (first trial pays worker/page warmup)."""
    from lmw_tree_spark.operators.signature_stage import extract_signatures
    from lmw_tree_spark.session import get_spark
    from lmw_tree_spark.sources.images import generate_images

    spark = get_spark(app_name=f"sig-{master}", master=master, shuffle_partitions=parts)
    cfg = bench_config()
    try:
        images = generate_images(spark, n_images, partitions=max(parts, 8)).persist()
        images.count()
        secs = []
        for _ in range(trials):
            t0 = time.time()
            extract_signatures(images, cfg).count()
            secs.append(round(time.time() - t0, 2))
        best = min(secs)
        return {
            "rows": n_images,
            "trial_secs": secs,
            "images_per_sec": round(n_images / best, 0),
        }
    finally:
        spark.stop()


# The headline queries, by queries() name.
QUERIES = [
    "pricing_summary", "subset_semi_join", "topk_dims", "token_count",
    "lang_id", "exact_dedup", "repetition_filter", "stratified_sample",
    "scrub_pii", "regex_tokens",
    "cms_heavy_hitters", "bloom_membership", "bm25_topk", "pack_sequences",
    "decontaminate", "unigram_nll",
    "token_jaccard", "editdist_verify",
    "simhash32", "minhash_sql",
    "suffix_pairs", "cosine_topk", "centroid_assign", "dense_kmeans",
    "embedding_neardup", "dbscan_embeddings", "minhash_lsh_dedup",
    "simhash_dedup", "ivf_ann", "pq_ann", "srp_neardup",
    "user_sessions", "events_hourly",
    "semantic_dedup", "vocab_stats", "group_size_histogram", "reduce_dims",
    "crop_dedup", "sharpness_filter", "shard_manifest",
    "url_canonical", "mixture_sample", "domain_cap", "align_filter",
    "ar_bucket", "epoch_repeat",
    "hll_distinct", "bpe_train", "hard_negatives",
    "bpe_encode", "interleave_docs", "triangle_support", "ktruss_dedup",
    "sq8_recall", "shot_keyframes", "html_extract", "phash_pixels",
    "incremental_phash", "token_budget", "embedding_outliers", "corpus_drift", "retrieval_eval",
    "safety_filter", "curation_funnel", "quality_classifier", "classifier_train",
    "entropy_filter", "letterbox_crop", "padded_dedup", "watermark_flags",
    "color_filter", "affix_strip", "compaction_plan", "group_merge",
    "collage_filter", "image_funnel", "text_overlay", "dedup_attribution",
    "phash_radius_sweep",
    "pagerank_hubs", "modularity", "group_diameter", "bucket_skew",
    "silhouette", "knn_graph",
]

# The ~31 distinct words of the sf documents give BPE too few merges; its
# 1024-merge row trains on this many distinct synthetic words.
BPE_WORDS = 60_000


def run_queries(spark, sf_dir: str) -> dict:
    import __spark_entry__ as entry

    qs = entry.queries()
    out = {}
    for name in QUERIES:
        # min-of-2: the first run pays Python-worker spin-up / first-import /
        # page-fault warmup for that query's kernel path (measured 2-7x at this
        # scale: minhash production config 12.8 s cold vs 1.8 s warm in the
        # same session); the second run times the plan.
        secs = []
        for _ in range(2):
            t0 = time.time()
            qs[name](spark, sf_dir, **entry.BENCH_PARAMS.get(name, {})).count()
            secs.append(round(time.time() - t0, 3))
        out[name] = min(secs)
    return out


def main():
    sf = _sf()
    n_images = max(700, int(sf * 70_000))

    # EM-iteration throughput vs reference single-node — runs FIRST, before
    # any other session churns the page cache (fresh-page faults on the
    # 4-core benchmark VM cost ~100 MB/s; measured order effects of 10-20%).
    # Best-of-3 sessions, min-of-iters within each: the VM's 2-5x wall-clock
    # noise is session-correlated (a whole session can land in a slow window
    # — observed 84k vs 150k sigs/s for identical code minutes apart), so
    # three independent sessions are three draws; the best iteration is the
    # engine signal, the worst is the machine's.
    em_runs = [run_em_iters(f"local[{CPUS}]", CPUS, EM_ROWS, iters=6) for _ in range(3)]
    em = max(em_runs, key=lambda r: r["sigs_per_sec"])
    em["session_best_iters"] = [min(r["iter_secs"]) for r in em_runs]

    # flagship e2e at full parallelism — min-of-2 fresh sessions: identical
    # runs on this VM swing 2-5x (page-cache / host-scheduling noise, see
    # BASELINE.md); the better run is the engine's cost, the worse the
    # machine's. Both totals are reported for transparency.
    runs = [run_flagship(f"local[{CPUS}]", CPUS, n_images) for _ in range(2)]
    big = min(runs, key=lambda r: r["t_total"])
    big["all_run_totals"] = [r["t_total"] for r in runs]

    # scaling: signature stage at 1 vs CPUS cores. Wall clock swings 2-5x
    # between identical runs minutes apart, so levels are sampled in
    # ALTERNATING sessions and min-of-all-trials per level is used — an
    # unlucky page-cache window then hurts both levels instead of biasing the
    # ratio.
    sig_n = max(50_000, int(sf * 500_000))
    trials = {1: [], CPUS: []}
    for n_trials in (3, 2):
        for cpus in trials:
            trials[cpus] += run_sig_stage(f"local[{cpus}]", cpus, sig_n, n_trials)["trial_secs"]
    t1, tn = min(trials[1]), min(trials[CPUS])

    # headline queries on the driver tables
    import __spark_entry__ as entry
    from lmw_tree_spark.session import get_spark

    spark = get_spark(app_name="bench-queries", master=f"local[{CPUS}]")
    queries = run_queries(spark, SF_DIR)

    # the vocabulary-scale BPE trainer cost: one distributed word
    # aggregation + viability prune, then the driver-side heap loop
    t0 = time.time()
    n_merges = entry.q_bpe_train(spark, SF_DIR, n_merges=1024, n_words=BPE_WORDS).count()
    bpe_1024 = {
        "n_merges_requested": 1024,
        "n_merges_done": n_merges,
        "distinct_words": BPE_WORDS,
        "secs": round(time.time() - t0, 3),
    }
    spark.stop()

    result = {
        "metric": "dedup_cluster_e2e_seconds",
        "value": big["t_total"],
        "unit": "sec",
        "sf": sf,
        "n_images": n_images,
        "throughput_images_per_sec": round(n_images / big["t_total"], 1),
        "recall": big["dup_pair_recall"],
        "precision": big["dup_pair_precision"],
        "stages": big,
        "scaling": {
            "job": "signature_extraction",
            "rows": sig_n,
            "cpus_small": 1,
            "cpus_big": CPUS,
            "t_small": t1,
            "t_big": tn,
            "images_per_sec_small": round(sig_n / t1, 0),
            "images_per_sec_big": round(sig_n / tn, 0),
            "efficiency": round((t1 / tn) / CPUS, 3),
        },
        "em_iter": {
            "rows": EM_ROWS,
            f"local{CPUS}": em,
            "reference_single_node_sigs_per_sec": 226000,
        },
        "bpe_1024": bpe_1024,
        "queries": queries,
    }
    print(json.dumps(result))


if __name__ == "__main__":
    main()
